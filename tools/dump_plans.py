"""Dump .explain('formatted') for the benched queries into plans/<tag>/.

Usage: python tools/dump_plans.py <tag> [query ...]
  tag     e.g. r06 -> writes plans/<tag>/<query>_<suffix>.txt
  query   default: the 12 bench-timed paths below; any other name in
          dedup.queries.QUERIES (e.g. dedupe_one_url dedupe_by_metadata)
          can be named too
  suffix  via PLANS_SUFFIX env (default 'before')

The 12 bench-timed paths are the four pipeline stages (built exactly as
bench.py builds them, minus persist) and the eight operator queries. No
query is collected, and only the named frames are built. Building the
p1-p3 frames runs no Spark job; only p4's union-find collect in
`cluster.connected_components` runs at build time, and it executes p1-p3
to pull the verified edges to the driver. The two lookup plans
(`dedupe_one_url`, `dedupe_by_metadata`) run their source collect while
they are built: dedupe_one collects the source url's signature row, and
dedupe_by_metadata reads doc 3's text, so both sign the corpus once at
build time.
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


PIPELINE_FRAMES = ("p1_signatures", "p2_candidate_pairs", "p3_verify",
                   "p4_cluster")
BENCH_QUERIES = ("token_count", "text_quality", "exact_dup_groups",
                 "ngram_jaccard_pairs", "embedding_knn", "events_agg",
                 "events_user_rank", "line_dedup", "events_hourly_topk")


def pipeline_frames(spark, sf_dir):
    """Stage name -> builder; p4's builder runs the union-find collect."""
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
    return {
        "p1_signatures": lambda: sigs,
        "p2_candidate_pairs": lambda: pairs,
        "p3_verify": lambda: verified,
        "p4_cluster": lambda: assign_clusters(corpus.select("url"),
                                              verified.select("a", "b")),
    }


def main():
    from dedup.queries import QUERIES
    from dedup.session import build_session

    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    names = sys.argv[2:] or [*PIPELINE_FRAMES, *BENCH_QUERIES]
    unknown = [n for n in names if n not in PIPELINE_FRAMES
               and n not in QUERIES]
    if unknown:
        sys.exit(f"unknown query: {' '.join(unknown)}")
    out_dir = _REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = build_session("plan-dump", master="local[4]")
    pipeline = pipeline_frames(spark, SF_DIR)
    for name in names:
        df = (pipeline[name]() if name in PIPELINE_FRAMES
              else QUERIES[name](spark, SF_DIR))
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{SUFFIX}.txt").write_text(buf.getvalue())
        print(f"wrote {name}_{SUFFIX}.txt ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
