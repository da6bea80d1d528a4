"""spark-submit entry point.

Usage:
  spark-submit --py-files geospark.zip -m geospark.run.cli \
      --pages <parquet dir> --districts-n 2000 --out <dir> \
      [--run-id myrun] [--tile-level 14] [--resume]

  # text / training-data mode: dedup + quality-clean + near-dup pairs
  spark-submit --py-files geospark.zip -m geospark.run.cli \
      --mode text --docs <documents parquet> --out <dir> \
      [--run-id clean1] [--max-bucket 1000]

Runs as a resumable staged run (snapshot checkpoints + lineage);
re-invoking with the same --run-id resumes after the last committed
stage.
"""

from __future__ import annotations

import argparse


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["flagship", "text"], default="flagship")
    ap.add_argument("--pages", help="pages parquet path (default: synthesize)")
    ap.add_argument("--pages-n", type=int, default=1_000_000)
    ap.add_argument("--districts-n", type=int, default=2000)
    ap.add_argument("--docs", help="documents parquet path (text mode)")
    ap.add_argument(
        "--max-bucket", type=int, default=1000,
        help="text mode: bucket-size skew guard applied to BOTH the "
        "MinHash and fingerprint-overlap stages (boilerplate)",
    )
    ap.add_argument("--out", required=True, help="catalog root directory")
    ap.add_argument("--run-id", default="flagship")
    ap.add_argument("--tile-level", type=int, default=14)
    args = ap.parse_args(argv)
    # validate BEFORE any Spark work: a usage error must not pay JVM
    # startup or create the catalog root directory
    if args.mode == "text" and not args.docs:
        ap.error("--mode text requires --docs")

    from pyspark.sql import SparkSession

    # absolute imports: spark-submit runs this file as a plain script
    # (no parent package); the --py-files zip provides `geospark`
    from geospark.io.pages import generate_districts, generate_pages
    from geospark.ops.flagship import geocode_pip_tile_jvm
    from geospark.run.pipeline import Pipeline, catalog_for

    spark = SparkSession.builder.appName(f"geospark-{args.mode}").getOrCreate()
    # real Iceberg catalog when the runtime jar + config exist (cluster
    # deployments); parquet + atomic-manifest fallback otherwise
    catalog = catalog_for(spark, args.out)
    pipe = Pipeline(spark, catalog, args.run_id)

    if args.mode == "text":
        from pyspark.sql import functions as F

        from geospark.text.dedup import exact_dedup, minhash_lsh_pairs
        from geospark.text.fingerprint import fingerprint_overlap_pairs

        def stage_docs(s, outputs):
            return s.read.parquet(args.docs)

        def stage_clean(s, outputs):
            # quality-gated canonical docs (the corpus_clean shape)
            d = outputs["docs"]
            if "lang" not in d.columns:
                # docs tables without a lang column get the engine's
                # marker-word heuristic instead of failing the stage
                from geospark.queries import _langid_pred

                d = d.withColumn("lang", _langid_pred(F.col("text")))
            n_tokens = (
                F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
            ).cast("long")
            canon = exact_dedup(d).select(
                F.col("canonical_id").alias("doc_id"), "n_dups"
            )
            return (
                d.join(canon, "doc_id")
                .withColumn("n_tokens", n_tokens)
                .where(F.col("n_tokens") >= 30)
                .select("doc_id", "text", "lang", "n_tokens", "n_dups")
            )

        def stage_near_dups(s, outputs):
            return minhash_lsh_pairs(
                outputs["clean"], max_bucket=args.max_bucket
            )

        def stage_fingerprint_dups(s, outputs):
            return fingerprint_overlap_pairs(
                outputs["clean"], min_common=20, max_bucket=args.max_bucket
            )

        pipe.stage("docs", stage_docs)
        pipe.stage("clean", stage_clean)
        pipe.stage("near_dups", stage_near_dups)
        pipe.stage("fingerprint_dups", stage_fingerprint_dups)
        out = pipe.run()
        print(
            f"done: {out['clean'].count()} clean docs, "
            f"{out['near_dups'].count()} minhash candidate pairs, "
            f"{out['fingerprint_dups'].count()} fingerprint-overlap pairs"
        )
        spark.stop()
        return

    def stage_pages(s, outputs):
        if args.pages:
            return s.read.parquet(args.pages)
        return generate_pages(s, args.pages_n)

    def stage_districts(s, outputs):
        return generate_districts(s, args.districts_n)

    def stage_join(s, outputs):
        return geocode_pip_tile_jvm(
            outputs["pages"], outputs["districts"], tile_level=args.tile_level
        )

    def stage_tile_counts(s, outputs):
        from pyspark.sql import functions as F

        return outputs["join"].groupBy("cell_id").agg(F.count(F.lit(1)).alias("pages"))

    pipe.stage("pages", stage_pages)
    pipe.stage("districts", stage_districts)
    pipe.stage("join", stage_join)
    pipe.stage("tile_counts", stage_tile_counts)
    out = pipe.run()
    print(f"done: {out['join'].count()} join rows, "
          f"{out['tile_counts'].count()} tiles")
    spark.stop()


if __name__ == "__main__":
    main()
