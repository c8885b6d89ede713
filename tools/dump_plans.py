"""Dump .explain('formatted') for the benched queries into plans/<tag>/.

Usage: python tools/dump_plans.py <tag> [query ...]
  tag     e.g. r06 -> writes plans/r06/<query>_<suffix>.txt
  suffix  via PLANS_SUFFIX env (default 'before')

Covers the 12 bench-timed paths: the four pipeline stages (built exactly as
bench.py builds them, minus persist) and the eight operator queries. No
query is collected. Building the p1-p3 frames runs no Spark job; only p4's
union-find collect in `cluster.connected_components` runs at build time,
and it executes p1-p3 to pull the verified edges to the driver.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SUFFIX = os.environ.get("PLANS_SUFFIX", "before")


def pipeline_frames(spark, sf_dir):
    from dedup.cluster import assign_clusters
    from dedup.config import PARITY_CONFIG
    from dedup.lsh import candidate_pairs
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table
    from dedup.verify import verify_pairs

    corpus = docs_as_corpus(spark, sf_dir)
    sigs = signatures_table(corpus, PARITY_CONFIG)
    pairs = candidate_pairs(sigs, PARITY_CONFIG)
    verified = verify_pairs(pairs, sigs, PARITY_CONFIG).where("keep")
    clusters = assign_clusters(corpus.select("url"), verified.select("a", "b"))
    return {
        "p1_signatures": sigs,
        "p2_candidate_pairs": pairs,
        "p3_verify": verified,
        "p4_cluster": clusters,
    }


def main():
    from dedup.queries import QUERIES
    from dedup.session import build_session

    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    only = set(sys.argv[2:])
    out_dir = _REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = build_session("plan-dump", master="local[4]")
    frames = pipeline_frames(spark, SF_DIR)
    for name in ("token_count", "text_quality", "exact_dup_groups",
                 "ngram_jaccard_pairs", "embedding_knn", "events_agg",
                 "events_user_rank", "line_dedup", "events_hourly_topk"):
        frames[name] = QUERIES[name](spark, SF_DIR)

    for name, df in frames.items():
        if only and name not in only:
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{SUFFIX}.txt").write_text(buf.getvalue())
        print(f"wrote {name}_{SUFFIX}.txt ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
