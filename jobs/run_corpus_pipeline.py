"""spark-submit entrypoint: raw documents → curated training corpus.

The composed data-curation pipeline a pre-training job runs, end to end:

  1. text signals  — token counts, quality score, language ID, Gopher
                     repetition/shape gates (all JVM built-ins);
  2. exact dedup   — normalized-fingerprint keepers;
  3. near dedup    — MinHash-LSH band join + exact-Jaccard verify
                     (candidates only), df-capped hot shingles;
  4. selection     — quality/lang/gopher gates + dedup keepers;
  5. write         — curated parquet + a one-line JSON report.

Cluster launch:

    zip -r cuttana_spark.zip cuttana_spark
    spark-submit --master <cluster> --py-files cuttana_spark.zip \\
        jobs/run_corpus_pipeline.py --documents <parquet> \\
        --output <out-dir> [--min-quality 0.5] [--lang en] \\
        [--jaccard 0.8] [--keep-near-dups]

Sandbox smoke:

    spark-submit --master local[8] jobs/run_corpus_pipeline.py \\
        --documents /root/testdata/sf0.01/documents.parquet --output /tmp/corpus
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct `python jobs/run_corpus_pipeline.py` runs; spark-submit --py-files
# ships the package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--jaccard", type=float, default=0.8, help="near-dup threshold")
    ap.add_argument("--keep-near-dups", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cuttana_spark import session

    spark = (
        SparkSession.builder.appName("cuttana-corpus")
        .config("spark.sql.codegen.cache.maxEntries", str(session.CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )

    from cuttana_spark.operators.dedup import exact_dedup, minhash_pairs
    from cuttana_spark.operators.text import (
        with_language,
        with_quality,
        with_repetition,
        with_token_count,
    )

    t0 = time.monotonic()
    docs = spark.read.parquet(args.documents)
    n_in = docs.count()

    scored = with_repetition(with_language(with_quality(with_token_count(docs))))
    gated = scored.filter(
        (F.col("quality") >= args.min_quality)
        & (F.col("ws_tokens") >= args.min_tokens)
        & (F.col("lang_pred") == args.lang)
        & F.col("passes_gopher")
    ).cache()
    n_gated = gated.count()

    # exact dedup keepers (canonical = min doc_id per normalized fingerprint)
    keepers = exact_dedup(docs).filter(F.col("doc_id") == F.col("canonical_id"))
    curated = gated.join(keepers.select("doc_id"), "doc_id")

    # near-dup removal: among surviving docs, drop the higher doc_id of every
    # MinHash-verified pair (candidates only — banded LSH join)
    if not args.keep_near_dups:
        pairs = minhash_pairs(
            curated.select("doc_id", "text"), threshold=args.jaccard
        )
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        curated = curated.join(losers, "doc_id", "left_anti")

    curated = curated.cache()
    n_out = curated.count()
    curated.write.mode("overwrite").parquet(args.output)

    print(
        json.dumps(
            {
                "docs_in": n_in,
                "after_gates": n_gated,
                "curated_out": n_out,
                "kept_fraction": round(n_out / max(n_in, 1), 4),
                "wall_sec": round(time.monotonic() - t0, 2),
                "output": args.output,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
