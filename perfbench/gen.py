"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and its dimensions: the
same seed gives byte-identical parquet files, another seed different
ones. The program under test only ever sees the files written here.

Dimensions (recorded in every result under ``generator``):

- fixture tables: the TPC-H-ish star (region … lineitem), ``events``,
  ``documents`` and ``embeddings`` in the shapes of FIXTURES.md, sized
  by a scale factor ``sf`` (row counts as the sf fixtures of TESTDATA.md);
- flow files: ``rows_per_file`` events per file, a hot set of services
  drawing ``hot_share`` of the rows (key skew), a drifting window of
  cold services (edge churn and node TTL expiry), a protocol vocabulary
  from which each file draws a subset (new and repeated edge keys), and
  ``ts`` advancing ``days_per_file`` days per file;
- snapshot churn: the share of resources (customers, suppliers) that
  vanish and appear between batch-ETL cycles, plus cfn templates whose
  references churn with them;
- query order: a seeded permutation of the query list per pass.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Flow-file dimensions (deepflow-stream).
FLOW = {
    "rows_per_file": 4000,
    "hot_services": 5,
    "hot_share": 0.7,
    "cold_services": 20,
    "cold_window": 8,
    "cold_drift_per_file": 1,
    "protocols": 12,
    "protocols_per_file": 6,
    "days_per_file": 4,
    "dst_keys": 100,
}

# Snapshot-churn dimensions (batch-etl).
CHURN = {"vanish_share": 0.1, "appear_share": 0.1, "stacks": 40, "refs_per_stack": 6}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "the a and of to key agg row scan slow fast table value part hash merge "
    "batch spark line sort window column data join small big query filter "
    "group order customer stream vector"
).split()
_DE_WORDS = "der die das und ist tabelle zeile wert".split()
_EPOCH_2024 = dt.datetime(2024, 1, 1)
_EPOCH_1995 = dt.datetime(1995, 1, 1)

_TS = pa.timestamp("us")


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base_us + micros.astype(np.int64), type=pa.int64()).cast(_TS)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _rows(sf: float, at_sf0_1: int, floor: int) -> int:
    return max(floor, int(round(at_sf0_1 * sf * 10)))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word soup over a small vocabulary, with planted exact copies,
    near-duplicates (a few words replaced), repetitive docs that the
    Gopher filter drops, and a few non-English docs."""
    texts: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i >= 10 and kind < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and kind < 0.16:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        elif kind < 0.2:
            w = _WORDS[int(rng.integers(5, len(_WORDS)))]
            texts.append(" ".join([w] * int(rng.integers(20, 60)) + ["the", "end"]))
        elif kind < 0.23:
            texts.append(" ".join(rng.choice(_DE_WORDS, size=int(rng.integers(10, 60)))))
        else:
            texts.append(" ".join(rng.choice(_WORDS, size=int(rng.integers(8, 90)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["de" if t.split(" ")[0] in _DE_WORDS else "en" for t in texts]),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten snapshot tables of FIXTURES.md at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = _rows(sf, 15000, 150)
    n_supp = _rows(sf, 1000, 10)
    n_part = _rows(sf, 20000, 200)
    n_ord = _rows(sf, 150000, 1500)
    n_line = 4 * n_ord
    n_events = _rows(sf, 100000, 1000)
    n_docs = _rows(sf, 5000, 500)
    n_vecs = _rows(sf, 2000, 500)

    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(rng.choice(_PTYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    day_us = 86_400 * 1_000_000
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(_STATUS, n_ord)),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2400, n_ord) * day_us),
            "o_orderpriority": pa.array(rng.choice(_PRIORITY, n_ord)),
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    line_no = np.zeros(n_line, np.int32)
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    for a, b in zip(starts, np.r_[starts[1:], n_line]):
        line_no[a:b] = np.arange(1, b - a + 1)
    qty = rng.integers(1, 51, n_line).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(line_no, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, 2500, n_line) * day_us),
        }
    )
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(_EPOCH_2024, np.sort(rng.integers(0, 30 * day_us, n_events))),
            "user_id": pa.array(rng.integers(0, max(150, n_events // 67), n_events), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
            "value": np.round(rng.exponential(50, n_events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    centroids = rng.normal(0, 0.2, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centroids[labels] + rng.normal(0, 0.1, (n_vecs, 64))).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n_docs),
        "embeddings": embeddings,
    }


def write_fixture(seed: int, sf: float, out_dir: str, names=None) -> None:
    """Write the fixture tables as ``<out_dir>/<name>.parquet``."""
    for name, table in fixture_tables(seed, sf).items():
        if names is None or name in names:
            write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def flow_files(seed: int, n_files: int) -> list[pa.Table]:
    """Flow-event files in ``streaming.pipeline.EVENTS_SCHEMA`` order.

    ``src = user_id % 25`` and ``dst = k % 8`` in the flow projection,
    so ``user_id`` picks the calling service directly: services 0..4 are
    hot, and a window of cold services 5..24 drifts one step per file,
    so a cold service goes unseen long enough for the 30-day node TTL
    to drop it and may come back later."""
    f = FLOW
    rng = np.random.default_rng([seed, 2])
    n = f["rows_per_file"]
    day_us = 86_400 * 1_000_000
    protocols = np.array([f"proto{i:02d}" for i in range(f["protocols"])])
    out = []
    for i in range(n_files):
        hot = rng.random(n) < f["hot_share"]
        cold_lo = f["hot_services"] + (i * f["cold_drift_per_file"]) % f["cold_services"]
        cold = f["hot_services"] + (
            (cold_lo - f["hot_services"] + rng.integers(0, f["cold_window"], n))
            % f["cold_services"]
        )
        hot_src = np.minimum(rng.zipf(1.6, n) - 1, f["hot_services"] - 1)
        src = np.where(hot, hot_src, cold)
        user_id = src + 25 * rng.integers(0, 1000, n)
        protos = rng.choice(protocols, f["protocols_per_file"], replace=False)
        start = i * f["days_per_file"] * day_us
        out.append(
            pa.table(
                {
                    "event_id": pa.array(i * n + np.arange(n), pa.int64()),
                    "user_id": pa.array(user_id, pa.int64()),
                    "event_type": pa.array(rng.choice(protos, n)),
                    "value": np.round(rng.exponential(60, n), 2),
                    "ts": _ts(_EPOCH_2024, start + np.sort(rng.integers(0, day_us, n))),
                    "props": [f'{{"k": {k}}}' for k in rng.integers(0, f["dst_keys"], n)],
                }
            )
        )
    return out


def write_flow_files(seed: int, n_files: int, out_dir: str) -> list[str]:
    """Write the flow files as ``flow-<i>.parquet``; returns the paths in
    feed order."""
    paths = []
    for i, t in enumerate(flow_files(seed, n_files)):
        p = os.path.join(out_dir, f"flow-{i:05d}.parquet")
        write_table(t, p)
        paths.append(p)
    return paths


def churned_snapshot(base: dict[str, pa.Table], seed: int, cycle: int) -> dict[str, pa.Table]:
    """Cycle ``cycle``'s aws snapshot: the fixture's region, nation,
    customer, supplier and orders with a seeded share of customers and
    suppliers vanished and new ones appeared (orders follow their
    customer), so each cycle MERGE-inserts, updates and GC-deletes."""
    rng = np.random.default_rng([seed, 3, cycle])
    out = {"region": base["region"], "nation": base["nation"]}
    for name, key, prefix in (("customer", "c_custkey", "Customer"), ("supplier", "s_suppkey", "Supplier")):
        t = base[name]
        n = t.num_rows
        keep = rng.random(n) >= CHURN["vanish_share"]
        kept = t.filter(pa.array(keep))
        n_new = int(round(n * CHURN["appear_share"]))
        new_keys = np.arange(n_new) + n + 1_000_000 * (cycle + 1)
        cols = {}
        for f in t.schema:
            col = kept.column(f.name)
            if f.name == key:
                extra = pa.array(new_keys, f.type)
            elif f.name.endswith("_name"):
                extra = pa.array([f"{prefix}#{k:09d}" for k in new_keys], f.type)
            else:
                extra = t.column(f.name).take(pa.array(rng.integers(0, n, n_new))).combine_chunks()
            cols[f.name] = pa.concat_arrays([col.combine_chunks(), extra])
        out[name] = pa.table(cols)
    # A fresh seeded draw of tier tags moves the update path every cycle.
    seg = out["customer"].column("c_mktsegment")
    flip = rng.random(len(seg)) < 0.1
    new_seg = np.where(flip, rng.choice(_SEGMENTS, len(seg)), seg.to_numpy(zero_copy_only=False))
    out["customer"] = out["customer"].set_column(
        out["customer"].schema.get_field_index("c_mktsegment"), "c_mktsegment", pa.array(new_seg)
    )
    live = set(out["customer"].column("c_custkey").to_pylist())
    orders = base["orders"]
    out["orders"] = orders.filter(
        pa.array([k in live for k in orders.column("o_custkey").to_pylist()])
    )
    return out


def cfn_inputs(snapshot: dict[str, pa.Table], seed: int, cycle: int) -> tuple[pa.Table, pa.Table]:
    """(templates, physical_ids) for one cycle: each stack template
    references a seeded set of logical ids, resolved against the live
    suppliers of the snapshot (vanished ones drop out of the edges)."""
    rng = np.random.default_rng([seed, 4, cycle])
    supp = snapshot["supplier"].column("s_suppkey").to_pylist()
    stacks, bodies = [], []
    for s in range(CHURN["stacks"]):
        refs = rng.choice(len(supp) + 50, CHURN["refs_per_stack"], replace=False)
        resources = {
            f"Res{j:02d}": {
                "Type": "AWS::Lambda::Function",
                "Properties": {"Role": {"Ref": f"L{int(r)}"}, "Index": j},
            }
            for j, r in enumerate(refs)
        }
        stacks.append(f"stack-{s:03d}")
        bodies.append(json.dumps({"Resources": resources}, sort_keys=True))
    templates = pa.table({"stack_name": stacks, "template": bodies})
    physical = pa.table(
        {
            "logical_id": [f"L{i}" for i in range(len(supp))],
            "physical_id": [f"arn:aws:lambda:fn-{k}" for k in supp],
            "target_label": ["LambdaFunction"] * len(supp),
        }
    )
    return templates, physical


def query_order(seed: int, names: list[str], n_passes: int) -> list[list[str]]:
    """A seeded permutation of ``names`` for each pass."""
    rng = np.random.default_rng([seed, 5])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(n_passes)]
