"""spark-submit entry point for the end-to-end CORPUS CURATION
pipeline over the Common-Crawl-shaped pages table (BASELINE.json
input_hint: url, warc_ts, html, text, lang) — the webtext deliverable
twin of jobs/merge.py: merge.py ships tiles, curate.py ships a
snapshot-versioned training corpus.

    python jobs/curate.py --pages-count 20000 --out /tmp/corpus_tbl \
        --master 'local[8]'

Chain (every stage an operator this repo already oracle-checks):

    pages → latest-capture-wins per canonical URL (webpipe.canonical_url
          + extract.latest_capture's max_by shape)
    → stable doc ids (functions/ids_sql, engine-reproducible)
    → quality filter (textstats.quality_filter, exact integer rules)
    → PII redaction (webpipe.redact_pii)
    → exact content dedup on the REDACTED text (keep min doc_id)
    → optional Hamilton token-budget apportionment across languages
      (sampling.apportion_budget, --budget 0 = keep all)
    → shard assignment (webpipe.shard_assign)
    → Iceberg commit (sources/iceberg.py) — each run appends ONE
      snapshot, so successive crawl increments are time-travelable
      and consumable exactly-once via read_changes.

Prints one JSON line {wall_s, pages_in, after_url_dedup, after_quality,
after_content_dedup, rows_out, snapshot_id, fingerprint, master};
the fingerprint (bit_xor of xxhash64 over url+redacted text) is
order-independent and must match across parallelism levels — the same
run-validity rule the merge job's scaling protocol uses.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-count", type=int, default=20_000)
    ap.add_argument("--pages-path", default=None,
                    help="read a pages parquet table instead of generating")
    ap.add_argument("--out", required=True,
                    help="Iceberg table directory (sources/iceberg.py)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--lang", default=None,
                    help="keep only this lang value (default: keep all)")
    ap.add_argument("--budget", type=int, default=0,
                    help="global token budget apportioned across langs "
                         "by largest remainder (0 = keep everything)")
    ap.add_argument("--n-shards", type=int, default=16)
    ap.add_argument("--quality", choices=["annotate", "drop"],
                    default="annotate",
                    help="'drop' removes quality-filter failures; "
                         "'annotate' (default) keeps them with "
                         "keep/reasons columns — the geo-payload pages "
                         "fixture is not prose, so the prose rules "
                         "legitimately fail it wholesale")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mergeaddressesandbuildings_spark.functions import ids_sql
    from mergeaddressesandbuildings_spark.operators import (
        sampling, textstats, webpipe,
    )
    from mergeaddressesandbuildings_spark.session import get_spark
    from mergeaddressesandbuildings_spark.sources import pages as pg
    from mergeaddressesandbuildings_spark.sources import iceberg as ice

    spark = get_spark(master=args.master, app_name="curate-job")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()

    if args.pages_path:
        pages = spark.read.parquet(args.pages_path)
    else:
        pages = pg.pages_df(spark, args.pages_count)
    pages_in = pages.count()

    # 1) latest capture per CANONICAL url — one max_by hash agg
    # (extract.latest_capture's shape, keyed on the canonical form)
    canon = pages.withColumn("url", webpipe.canonical_url(F.col("url")))
    key = F.struct(F.col("warc_ts"), F.col("text"))
    latest = (
        canon.groupBy("url")
        .agg(F.max_by(F.struct("warc_ts", "text", "lang"), key).alias("w"))
        .select("url", "w.warc_ts", "w.text", "w.lang")
    )
    if args.lang:
        latest = latest.filter(F.col("lang") == args.lang)
    latest = latest.withColumn(
        "doc_id", ids_sql.stable_id64_expr("curate", F.col("url"),
                                           F.lit(0)))
    after_url = latest.count()

    # 2) quality filter (exact integer rules): drop or annotate
    verdicts = textstats.quality_filter(latest.select("doc_id", "text"))
    if args.quality == "drop":
        kept = latest.join(
            verdicts.filter(F.col("keep")).select("doc_id"), "doc_id")
    else:
        kept = latest.join(
            verdicts.select("doc_id", "keep", "reasons"), "doc_id")
    after_quality = kept.count()

    # 3) PII redaction, then 4) exact dedup on the REDACTED text
    red = kept.withColumn("text", webpipe.redact_pii(F.col("text")))
    w_min = (
        red.groupBy(F.sha2(F.col("text").cast("binary"), 256)
                    .alias("__sha"))
        .agg(F.min("doc_id").alias("doc_id"))
    )
    uniq = red.join(w_min.select("doc_id"), "doc_id")
    uniq = uniq.withColumn(
        "n_tokens",
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != "")))
    after_dedup = uniq.count()

    # 5) optional Hamilton apportionment of a global budget across langs
    if args.budget > 0:
        uniq = sampling.apportion_budget(
            uniq, args.budget, "n_tokens",
            strat=F.col("lang"), key=F.col("doc_id"),
        ).drop("quota", "sort_hash", "cum_before")

    # 6) shard + 7) snapshot commit
    out = webpipe.shard_assign(uniq, F.col("doc_id"), args.n_shards)
    quality_cols = (["keep", "reasons"]
                    if args.quality == "annotate" else [])
    out = out.select("doc_id", "url", "warc_ts", "lang", "n_tokens",
                     "shard", *quality_cols, "text")
    fp_df = out.agg(F.expr(
        "coalesce(bit_xor(xxhash64(url, text)), 0L)").alias("fp"),
        F.count("*").alias("n"))
    fp_row = fp_df.collect()[0]
    try:
        ice.load_metadata(args.out)
    except ice.IcebergError:
        sid = ice.write_iceberg(out, args.out)
    else:
        sid = ice.append_iceberg(out, args.out)

    print(json.dumps({
        "job": "curate",
        "pages_in": pages_in,
        "after_url_dedup": after_url,
        "after_quality": after_quality,
        "after_content_dedup": after_dedup,
        "rows_out": int(fp_row["n"]),
        "snapshot_id": sid,
        "snapshot_rows_total": ice.record_count(args.out, sid),
        "fingerprint": int(fp_row["fp"]),
        "wall_s": round(time.monotonic() - t0, 2),
        "pages_per_sec": round(pages_in / (time.monotonic() - t0), 1),
        "master": spark.sparkContext.master,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
