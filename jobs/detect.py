"""Per-document detection CLI — the corpus-scale analog of the reference's
/detect/hash/by-node and /detect/hash/by-metadata endpoints
(app/main.py:499-531, :534-613).

    # by node (document already in the corpus, identified by url):
    python jobs/detect.py --corpus /path/corpus --url https://a.org/x

    # by ad-hoc metadata (document NOT in the corpus):
    python jobs/detect.py --corpus /path/corpus \\
        --title "some title" --description "..." [--source-url https://...]

    # reuse a pipeline workdir's signatures table instead of re-signing:
    python jobs/detect.py --signatures /path/workdir/signatures --url ...

Prints one JSON line per duplicate: {"node_url", "similarity",
"match_source"}, sorted by similarity descending.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description="Per-document dup detection")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--url", help="by-node mode: url of a corpus document")
    src.add_argument("--title", help="by-metadata mode: source title")
    ap.add_argument("--description")
    ap.add_argument("--source-url", help="by-metadata mode: source url")
    ap.add_argument("--redirect-url")
    ap.add_argument("--corpus", help="corpus parquet (url, text[, html])")
    ap.add_argument("--signatures",
                    help="precomputed signatures table (pipeline workdir)")
    ap.add_argument("--key-index",
                    help="persisted inverted key table (workdir 'keys' "
                         "stage from DedupPipeline.run(build_key_index="
                         "True)); skips re-exploding signatures per query")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--max-candidates", type=int, default=None,
                    help="cap on returned duplicates (M5 clamp applies)")
    ap.add_argument("--engine-mode", action="store_true")
    ap.add_argument("--scoring", choices=("cosine", "jaccard"),
                    default="cosine",
                    help="keep semantics for BOTH query modes: 'cosine' "
                         "(reference decision, default) or 'jaccard' "
                         "(engine exact-Jaccard; needs a shingle-bearing "
                         "signatures table, i.e. --engine-mode or an "
                         "engine workdir)")
    ap.add_argument("--trust-key-index", action="store_true",
                    help="use --key-index even when its lineage manifest "
                         "is missing (config compatibility then cannot be "
                         "verified)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if not args.corpus and not args.signatures:
        ap.error("--corpus or --signatures required")

    from dataclasses import replace

    from dedup.config import (ENGINE_CONFIG, PARITY_CONFIG,
                              get_effective_max_candidates)
    from dedup.kernel import SourceMetadata, dedupe_metadata, dedupe_one
    from dedup.session import build_session
    from dedup.signature import signatures_table

    cfg = ENGINE_CONFIG if args.engine_mode else PARITY_CONFIG
    if args.threshold is not None:
        # with --scoring jaccard the keep decision reads jaccard_threshold,
        # so an explicit --threshold must land on that field
        cfg = (replace(cfg, jaccard_threshold=args.threshold)
               if args.scoring == "jaccard"
               else replace(cfg, threshold=args.threshold))

    spark = build_session("detect", master=args.master)
    if args.signatures:
        sigs = spark.read.parquet(args.signatures)
        # a workdir built under a different num_hashes / band split than
        # the config chosen here would silently yield band keys and scores
        # computed under mismatched parameters — fail loudly instead
        from pyspark.sql import functions as F
        bad = (sigs.where(F.col("minhash").isNotNull())
               .where(F.size("minhash") != cfg.num_hashes).limit(1).count())
        if bad:
            sys.exit(f"--signatures table was built with a different "
                     f"num_hashes than the selected config "
                     f"({cfg.num_hashes}); regenerate the workdir or pass "
                     "the matching --engine-mode flag")
    else:
        # --scoring jaccard needs the shingle arrays even under a parity
        # config whose pipeline default would drop them
        sigs = signatures_table(
            spark.read.parquet(args.corpus), cfg,
            keep_shingles=True if args.scoring == "jaccard" else None)

    key_index = None
    if args.key_index:
        # a key index materializes config-dependent band hashes; a workdir
        # lineage manifest (written next to the stage) pins the config it
        # was built under — refuse a mismatched one instead of silently
        # probing wrong buckets
        manifest = Path(args.key_index).parent / "_lineage" / "keys.json"
        from dedup.config import key_config
        recorded = None
        if manifest.exists():
            man = json.loads(manifest.read_text())
            recorded = man.get("config")
        if recorded is not None:
            if key_config(recorded) != key_config(cfg):
                sys.exit("--key-index was built under a different "
                         "signature/banding config "
                         f"({key_config(recorded)} != {key_config(cfg)}); "
                         "rebuild it or match --engine-mode")
        elif not args.trust_key_index:
            # a missing/config-less manifest means the index's band-hash
            # space CANNOT be verified against this config — a mismatched
            # index silently probes wrong buckets and returns wrong/empty
            # candidates, exactly the failure the guard exists to prevent
            sys.exit("--key-index has no lineage manifest "
                     f"({manifest}) so its signature/banding config "
                     "cannot be verified; rebuild it via "
                     "DedupPipeline.run(build_key_index=True) or pass "
                     "--trust-key-index to proceed anyway")
        key_index = spark.read.parquet(args.key_index)
    if args.url:
        result = dedupe_one(sigs, args.url, cfg, key_index=key_index,
                            scoring=args.scoring)
    else:
        result = dedupe_metadata(
            sigs,
            SourceMetadata(title=args.title, description=args.description,
                           url=args.source_url,
                           redirect_url=args.redirect_url),
            cfg, key_index=key_index, scoring=args.scoring)
    limit = get_effective_max_candidates(args.max_candidates)
    for row in result.limit(limit).collect():
        print(json.dumps({"node_url": row["node_url"],
                          "similarity": row["similarity"],
                          "match_source": row["match_source"]}))
    spark.stop()


if __name__ == "__main__":
    main()
