"""Scaling evidence: cold wall-times of the named registry queries at
a source fixture and at a 10x fixture built from it (method:
docs/SCALE.md round 6). Run on a quiet machine only.

Usage:

    python docs/bench/scale10x.py SRC_DIR DST_DIR QUERY [QUERY ...]

SRC_DIR is a star-schema fixture directory (e.g. sf0.1). DST_DIR
receives the 10x fixture on first use and is reused afterwards. Each
query runs REPS times per fixture with tracked caches released before
every run; the minimum is reported, so fingerprint-cached store and
layout builds count as refresh cost and the figure is the serve path.
Prints one line per (query, fixture) and a final JSON map
{query: {fixture: seconds}}.

The 10x fixture is built from replicas that are isometries of the
source, so the true pair structure grows linearly, never
quadratically:

- documents replicate with offset doc_ids, and every replica r > 0
  relabels its vocabulary (token w -> "z{a..i}" + w). The map is a
  bijection, so within-replica shingle and near-dup structure is
  exact and cross-replica overlap is zero; letter tags keep every
  token inside the BPE learner's alphabetic vocabulary filter, so
  the learned-vocab working set grows 10x too. URL page identity is
  a function of doc_id and keeps its PAGE_MOD structure, so shared
  pages stay shared.
- embeddings replicate under per-replica +/-1 dimension masks
  (within-replica cosines exact, cross-replica decorrelated), and the
  plant device keys on the offset vec_ids, so every replica
  contributes its own planted twins.
- orders, lineitem and supplier replicate with disjoint key offsets:
  ten disconnected copies of the customer-supplier graph.

Queries over other tables fail at DST_DIR. The banded candidate-mass
figures recorded beside the round-12/13 curves in SCALE.md are not
printed here.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from projet_etl_spark.cache import release_caches  # noqa: E402
from projet_etl_spark.plans.registry import queries  # noqa: E402
from projet_etl_spark.session import get_spark  # noqa: E402

REPLICAS = 10
REPS = 2


def _build_documents(src_dir: str, dst_dir: str) -> None:
    import pandas as pd
    import pyarrow.parquet as pq

    base = pq.read_table(os.path.join(src_dir, "documents.parquet")).to_pandas()
    n = int(base["doc_id"].max()) + 1
    parts = []
    for r in range(REPLICAS):
        d = base.copy()
        d["doc_id"] = d["doc_id"] + r * n
        if r:
            tag = "z" + chr(ord("a") + r - 1)
            d["text"] = d["text"].map(
                lambda s, tag=tag: " ".join(tag + w for w in s.split())
            )
        parts.append(d)
    pd.concat(parts, ignore_index=True).to_parquet(
        os.path.join(dst_dir, "documents.parquet"), index=False
    )


def _build_embeddings(src_dir: str, dst_dir: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(src_dir, "embeddings.parquet"))
    vec_id = t["vec_id"].to_numpy()
    emb = np.array(t["embedding"].to_pylist(), dtype=np.float32)
    label = t["label"].to_numpy()
    n, dim = int(vec_id.max()) + 1, emb.shape[1]
    ids, vecs, labs = [], [], []
    for r in range(REPLICAS):
        rng = np.random.default_rng(r)
        mask = (
            np.ones(dim, dtype=np.float32)
            if r == 0
            else rng.choice([-1.0, 1.0], size=dim).astype(np.float32)
        )
        ids.append(vec_id + r * n)
        vecs.append(emb * mask)
        labs.append(label)
    out = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), type=pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in np.concatenate(vecs)],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(np.concatenate(labs), type=pa.int32()),
        }
    )
    pq.write_table(out, os.path.join(dst_dir, "embeddings.parquet"))


def _build_graph_tables(src_dir: str, dst_dir: str) -> None:
    import pandas as pd
    import pyarrow.parquet as pq

    def read(table: str) -> "pd.DataFrame":
        return pq.read_table(os.path.join(src_dir, f"{table}.parquet")).to_pandas()

    orders, li, supp = read("orders"), read("lineitem"), read("supplier")
    n_ord = int(orders["o_orderkey"].max()) + 1
    n_cust = int(orders["o_custkey"].max()) + 1
    n_supp = int(supp["s_suppkey"].max()) + 1
    po, pl, ps = [], [], []
    for r in range(REPLICAS):
        o = orders.copy()
        o["o_orderkey"] = o["o_orderkey"] + r * n_ord
        o["o_custkey"] = o["o_custkey"] + r * n_cust
        po.append(o)
        x = li.copy()
        x["l_orderkey"] = x["l_orderkey"] + r * n_ord
        x["l_suppkey"] = x["l_suppkey"] + r * n_supp
        pl.append(x)
        s = supp.copy()
        s["s_suppkey"] = s["s_suppkey"] + r * n_supp
        ps.append(s)
    for table, parts in (("orders", po), ("lineitem", pl), ("supplier", ps)):
        pd.concat(parts, ignore_index=True).to_parquet(
            os.path.join(dst_dir, f"{table}.parquet"), index=False
        )


def build_fixture(src_dir: str, dst_dir: str) -> None:
    os.makedirs(dst_dir, exist_ok=True)
    _build_documents(src_dir, dst_dir)
    _build_embeddings(src_dir, dst_dir)
    _build_graph_tables(src_dir, dst_dir)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("src_dir")
    ap.add_argument("dst_dir")
    ap.add_argument("query", nargs="+")
    args = ap.parse_args()

    qs = queries()
    unknown = [q for q in args.query if q not in qs]
    if unknown:
        sys.exit(f"unknown registry queries: {unknown}")
    if not os.path.exists(os.path.join(args.dst_dir, "supplier.parquet")):
        print("building 10x fixture ...", flush=True)
        build_fixture(args.src_dir, args.dst_dir)

    spark = get_spark(app_name="scale10x")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, float]] = {}
    for sf in (args.src_dir, args.dst_dir):
        for name in args.query:
            best = float("inf")
            for _ in range(REPS):
                release_caches(rollups=False)
                t0 = time.perf_counter()
                qs[name](spark, sf).collect()
                best = min(best, time.perf_counter() - t0)
            out.setdefault(name, {})[sf] = round(best, 2)
            print(name, sf, round(best, 2), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
