"""CLI entry point — the ``spark-submit --py-files`` front door.

Mirrors the reference's CLI surface (``markmuse.py:783-825``) where it
still makes sense for a table-in/table-out engine:

    # batch-convert a pages table (the --batch/--input-folder analog)
    spark-submit --py-files markmuse_spark.zip -m markmuse_spark.cli \
        --pages /data/pages_parquet --output /data/out --run-id run42

    # generate a deterministic corpus first (no external data)
    python -m markmuse_spark.cli --generate 10000 --pages /tmp/pages \
        --output /tmp/out --run-id r1

Reference-flag mapping: ``--url``/``--file`` dropped (single-document
network/local entry; the engine reads payloads already landed in the
table, SURVEY §2 A3); ``--parallel-images`` dropped (Spark's executor grid
replaces the thread pool, A7); ``--enhance-images`` becomes ``--captions``
(A11: the deterministic caption-injecting tail with the LLM replaced by a
caption TABLE — pass a parquet path of (url, img_id, description), or
``fake`` for the clearly-marked deterministic captioner); ``--images-output``
additionally writes the images table (payload bytes as a binary column —
the ``{stem}_images/`` side files, A8/A14).
"""

from __future__ import annotations

import argparse
import os
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="markmuse-spark")
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--output", required=True, help="output root directory")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--generate", type=int, default=None,
                    help="first generate N deterministic corpus rows into --pages")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--master", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--captions", default=None,
                    help="enhanced mode (A11): parquet path of (url, img_id, "
                         "description), or 'fake' for the deterministic "
                         "captioner")
    ap.add_argument("--images-output", default=None,
                    help="also write the images table (binary payloads) here "
                         "— a second kernel pass over --pages by design: "
                         "image rows need the pre-assembly page models, "
                         "which the markdown output does not retain")
    args = ap.parse_args(argv)

    from markmuse_spark.plans import pipeline
    from markmuse_spark.session import get_spark

    spark = get_spark(master=args.master, app_name=f"markmuse-{args.run_id}")
    try:
        if args.generate:
            from markmuse_spark.sources import corpus

            corpus.pages_dataframe(
                spark, args.generate, seed=args.seed,
                partitions=spark.sparkContext.defaultParallelism * 2,
            ).write.mode("overwrite").parquet(args.pages)

        pages = spark.read.parquet(args.pages)
        # snapshot the committed set BEFORE the run so --images-output can
        # process exactly the urls THIS run extracts (resume parity)
        images_todo = None
        if args.images_output:
            images_todo = pages
            if not args.no_resume:
                done = pipeline.committed_urls(spark, args.output)
                if done is not None:
                    images_todo = images_todo.join(done, "url", "left_anti")
        captions = None
        if args.captions:
            from markmuse_spark.operators.extract import deterministic_captions

            captions = (
                deterministic_captions(pages)
                if args.captions == "fake"
                else spark.read.parquet(args.captions)
            )
        job = pipeline.run_extraction(
            spark, pages, args.output, args.run_id,
            resume=not args.no_resume, captions=captions,
        )
        if args.images_output:
            from markmuse_spark.operators.extract import extract_images

            # one run directory per run-id (append-style accumulation, like
            # the extracted table) instead of overwriting prior increments
            (
                extract_images(images_todo)
                .write.mode("errorifexists")
                .option("compression", "zstd")
                .parquet(os.path.join(args.images_output, f"run_id={args.run_id}"))
            )
        print(json.dumps({k: str(v) for k, v in job.items()}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
