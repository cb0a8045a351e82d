"""spark-submit entrypoint for the extraction job.

Cluster usage (the 100 TB deployment shape; SURVEY.md §7.1 step 8):

    python tools/make_pyfiles.py                      # builds dist/manga_ocr_spark.zip
    spark-submit --py-files dist/manga_ocr_spark.zip \
        manga_ocr_spark/jobs/run_extract.py \
        --input  <pages parquet/iceberg path> \
        --output <out dir>  --buckets 2048 --salt 4096

Local smoke (what the sandbox runs):

    spark-submit --master 'local[8]' --py-files dist/manga_ocr_spark.zip \
        manga_ocr_spark/jobs/run_extract.py --input ... --output ...

Resume semantics: rerunning with the same --output skips every bucket
that already has an ok lineage row (ExtractJob, jobs/extract.py).

Task widths: each commit group of G of the --buckets B runs its
extraction in about G/B of the input's width: its partition count, but
for an input under default parallelism x spark.sql.files.maxPartitionBytes
bytes, which Spark splits finer to fill the slots, no more than one per
maxPartitionBytes of its bytes (an input far below that runs one task
per group). --salt P is a
whole-input width too: each group repartitions to ceil(P * G / B)
partitions, so `--buckets 2048 --commit-group 8 --salt 4096` runs 16
extraction tasks per group, not 4096.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser(description="main-content extraction over a pages table")
    p.add_argument("--input", required=True, help="pages parquet dir (url, warc_ts, html, text, lang)")
    p.add_argument("--output", required=True, help="output dir (extracted/ metrics/ lineage/)")
    p.add_argument("--buckets", type=int, default=None, help="commit/resume buckets of a new output "
                   "(default jobs.extract.NUM_BUCKETS, 2048 at scale); an output keeps its recorded count")
    p.add_argument("--commit-group", type=int, default=8, help="buckets per lineage commit")
    p.add_argument("--salt", type=int, default=None, help="salted repartition width over the whole input (skewed hosts), "
                   "in place of its partition and byte count; each commit group uses its share, "
                   "ceil(salt * group / buckets)")
    p.add_argument("--master", default=None, help="override master (defaults to spark-submit's)")
    args = p.parse_args()

    # inside spark-submit the session already exists; standalone, build one
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is None:
        from manga_ocr_spark.jobs.session import get_spark

        spark = get_spark(master=args.master)
    else:
        spark = active

    from manga_ocr_spark.jobs.extract import STATS_SCHEMA, ExtractJob

    pages = spark.read.parquet(args.input)
    job = ExtractJob(
        spark,
        args.output,
        num_buckets=args.buckets,
        commit_group_size=args.commit_group,
        salt_partitions=args.salt,
    )
    committed = job.run(pages)
    out = {
        "committed_buckets": committed,
        # the schema it wrote: no footer-inference job
        "extracted_rows": spark.read.schema(STATS_SCHEMA).parquet(f"{args.output}/extracted").count(),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
