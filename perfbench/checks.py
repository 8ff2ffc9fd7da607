"""Output checks, computed independently of Spark.

Each check returns a list of problems (empty when the output is right).
They run outside the timed window.
"""

from __future__ import annotations

import json

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

NODE_TTL_US = 30 * 86_400 * 1_000_000
ERROR_THRESHOLD = 250.0
SRC_MOD, DST_MOD = 25, 8


def _dec_avg4(values: np.ndarray) -> float:
    """``functions.dec_avg(col)``: half-up mean to 4 decimals, computed
    in exact integer arithmetic from the 2-decimal inputs."""
    cents = int(np.round(values * 100).astype(np.int64).sum())
    n = len(values)
    return float((cents * 200 + n) // (2 * n)) / 10_000


def expected_deepflow_store(paths: list[str]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Fold the flow files, in feed order, through the deepflow batch
    semantics: last-write-wins edge metrics, node ``last_seen`` with a
    create-once ``created_at``, the 30-day node TTL against each batch's
    max ``ts``, and degree columns over the final edge table."""
    edges: dict[tuple, tuple] = {}
    nodes: dict[str, list[int]] = {}
    for path in paths:
        t = pq.read_table(path).to_pandas()
        t = t[t["value"] > 0]
        k = t["props"].str.extract(r'"k": ([0-9]+)')[0].astype(np.int64)
        f = pd.DataFrame(
            {
                "src": t["user_id"].to_numpy() % SRC_MOD,
                "dst": k.to_numpy() % DST_MOD,
                "protocol": t["event_type"].to_numpy(),
                "value": t["value"].to_numpy(),
                "ts": _micros(t["ts"]).to_numpy(),
            }
        )
        f = f[f["src"] != f["dst"]]
        if f.empty:
            continue
        for (s, d, p), g in f.groupby(["src", "dst", "protocol"], sort=False):
            v = g["value"].to_numpy()
            edges[(int(s), int(d), p)] = (
                len(g), _dec_avg4(v), int((v >= ERROR_THRESHOLD).sum()), int(g["ts"].max())
            )
        seen = pd.concat(
            [f[["src", "ts"]].rename(columns={"src": "n"}), f[["dst", "ts"]].rename(columns={"dst": "n"})]
        ).groupby("n")["ts"].max()
        for n, ts in seen.items():
            name = str(int(n))
            if name in nodes:
                nodes[name][0] = int(ts)
            else:
                nodes[name] = [int(ts), int(ts)]
        horizon = int(f["ts"].max())
        nodes = {n: v for n, v in nodes.items() if v[0] >= horizon - NODE_TTL_US}

    e = pd.DataFrame(
        [(s, d, p, *m) for (s, d, p), m in edges.items()],
        columns=["src", "dst", "protocol", "calls", "avg_duration_ms", "error_count", "last_seen"],
    )
    out_deg = e.groupby("src").agg(out_degree=("dst", "size"), out_weight=("calls", "sum"))
    in_deg = e.groupby("dst").size().rename("in_degree")
    n = pd.DataFrame(
        [(name, ls, ca) for name, (ls, ca) in nodes.items()],
        columns=["name", "last_seen", "created_at"],
    )
    ids = n["name"].astype(np.int64)
    n["out_degree"] = ids.map(out_deg["out_degree"]).fillna(0).astype(np.int64)
    n["out_weight"] = ids.map(out_deg["out_weight"]).fillna(0).astype(np.int64)
    n["in_degree"] = ids.map(in_deg).fillna(0).astype(np.int64)
    n["is_entry_point"] = n["in_degree"] == 0
    return n, e


def _micros(col: pd.Series) -> pd.Series:
    return pd.to_datetime(col).astype("datetime64[us]").astype("int64")


def compare_deepflow_store(nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame, paths: list[str]) -> list[str]:
    """The store's final ``nodes``/``edges`` against the recomputation."""
    exp_n, exp_e = expected_deepflow_store(paths)
    problems = []
    key_e = ["src", "dst", "protocol"]
    got_e = edges_pdf.copy()
    got_e["last_seen"] = _micros(got_e["last_seen"])
    got_e = got_e.sort_values(key_e).reset_index(drop=True)
    exp_e = exp_e.sort_values(key_e).reset_index(drop=True)
    if len(got_e) != len(exp_e) or not (got_e[key_e].values == exp_e[key_e].values).all():
        problems.append(f"edge key set: store {len(got_e)} rows, expected {len(exp_e)}")
    else:
        for c in ("calls", "error_count", "last_seen"):
            if not (got_e[c].astype(np.int64).values == exp_e[c].values).all():
                problems.append(f"edge column {c} differs")
        if not np.allclose(got_e["avg_duration_ms"].values, exp_e["avg_duration_ms"].values, rtol=0, atol=1e-9):
            problems.append("edge column avg_duration_ms differs")
        if not got_e["active"].all():
            problems.append("edge column active not all true")
    got_n = nodes_pdf[nodes_pdf["label"] == "Microservice"].copy()
    got_n["last_seen"] = _micros(got_n["last_seen"])
    got_n["created_at"] = _micros(got_n["created_at"])
    got_n = got_n.sort_values("name").reset_index(drop=True)
    exp_n = exp_n.sort_values("name").reset_index(drop=True)
    if list(got_n["name"]) != list(exp_n["name"]):
        problems.append(f"node set: store {len(got_n)} nodes, expected {len(exp_n)}")
    else:
        for c in ("last_seen", "created_at", "out_degree", "in_degree", "out_weight", "is_entry_point"):
            if not (got_n[c].values == exp_n[c].values).all():
                problems.append(f"node column {c} differs")
    return problems


def expected_aws_stats(snapshots: list[dict[str, pa.Table]]) -> dict[str, int]:
    """aws run stats after the last of ``snapshots`` (every earlier one
    was also merged into the same store): Region/AZ/EC2 nodes are GC'd
    to the live snapshot, Microservice nodes (suppliers) accumulate."""
    snap = snapshots[-1]
    cust = snap["customer"].to_pandas()
    orders = snap["orders"].to_pandas()
    services = set()
    for s in snapshots:
        services.update(s["supplier"].column("s_name").to_pylist())
    live = set(cust["c_custkey"])
    o = orders[orders["o_custkey"].isin(live)]
    urgent = o[(o["o_orderpriority"] == "1-URGENT") & (o["o_orderstatus"] == "O")]
    return {
        "nodes": snap["region"].num_rows + snap["nation"].num_rows + len(cust) + len(services),
        "edges": snap["nation"].num_rows + len(cust),
        "degraded": int(urgent["o_custkey"].nunique()),
        "with_metrics": int(o["o_custkey"].nunique()),
    }


def expected_cfn_edges(cycles: list[tuple[pa.Table, pa.Table]]) -> int:
    """Distinct (stack, physical id) edges over every cycle's templates
    (the cfn MERGE never deletes)."""
    edges = set()
    for templates, physical in cycles:
        phys = dict(zip(physical.column("logical_id").to_pylist(), physical.column("physical_id").to_pylist()))
        for stack, body in zip(templates.column("stack_name").to_pylist(), templates.column("template").to_pylist()):
            for res in json.loads(body)["Resources"].values():
                ref = res["Properties"]["Role"]["Ref"]
                if ref in phys:
                    edges.add((stack, phys[ref]))
    return len(edges)


def oracle_frame(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, column names and order-insensitive values, with a
    relative 1e-9 tolerance on floats."""
    if len(got) != len(want):
        return [f"row count {len(got)} != oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    g, w = _normalize(got), _normalize(want)
    problems = []
    for c in g.columns:
        gv, wv = g[c], w[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(wv):
            gv, wv = pd.to_numeric(gv, errors="coerce"), pd.to_numeric(wv, errors="coerce")
            bad = ~((gv.isna() & wv.isna()) | ((gv - wv).abs() <= 1e-9 + 1e-9 * wv.abs()))
        elif pd.api.types.is_datetime64_any_dtype(gv) or pd.api.types.is_datetime64_any_dtype(wv):
            gv, wv = pd.to_datetime(gv), pd.to_datetime(wv)
            bad = ~((gv.isna() & wv.isna()) | (gv == wv))
        else:
            bad = gv.astype(str) != wv.astype(str)
        if int(bad.sum()):
            problems.append(f"column {c}: {int(bad.sum())} values differ")
    return problems


_CORPUS_STAGES = ("raw", "after_quality", "after_decontamination", "after_exact_dedup",
                  "after_near_dedup", "train_docs")


def check_corpus(stats: dict, rows, documents: pa.Table, capacity: int) -> list[str]:
    """The corpus run's stats and packed rows: every gate only removes
    documents, the raw count is the fixture's, and the packing is the
    serial concat-and-chunk layout of the train documents in id order
    (token counts from the fixture text)."""
    problems = []
    counts = [stats[k] for k in _CORPUS_STAGES]
    if counts[0] != documents.num_rows:
        problems.append(f"corpus raw count {counts[0]} != {documents.num_rows} documents")
    if any(b > a for a, b in zip(counts, counts[1:])):
        problems.append(f"corpus stage counts grow: {counts}")
    words = {d: len(t.split(" ")) for d, t in zip(documents.column("doc_id").to_pylist(),
                                                  documents.column("text").to_pylist())}
    packed = sorted((r["doc_id"], r["n_tokens"], r["start"], r["seq_id"], r["crosses_boundary"])
                    for r in rows)
    if len(packed) != stats["train_docs"]:
        problems.append(f"packed rows {len(packed)} != train_docs {stats['train_docs']}")
    start = 0
    for doc_id, n_tok, got_start, seq, crosses in packed:
        want = (words.get(doc_id), start, start // capacity,
                start // capacity != (start + n_tok - 1) // capacity)
        if (n_tok, got_start, seq, crosses) != want:
            problems.append(f"packed doc {doc_id}: {(n_tok, got_start, seq, crosses)} != {want}")
            break
        start += n_tok
    if len({p[3] for p in packed}) != stats["packed_sequences"]:
        problems.append("packed_sequences differs from the distinct seq_ids")
    return problems
