"""spark-submit entry point: chained incremental near-dup absorption
at volume — round-4 verdict task 5's probe. Maintains the (doc_id,
sig) signature table as an ICEBERG TABLE (sources/iceberg.py)
through ``--rounds`` successive deltas against the lsh_bench 1M-doc
replica corpus, measuring per-delta absorption cost against the
full-rebuild floor and asserting at volume what
tests/test_incremental_dedup.py asserts at toy scale: the union of
per-round incremental pairs == the full rebuild restricted to
delta-touching pairs.

    python jobs/incr_dedup_bench.py --mult 200 --rounds 3 \
        --master 'local[16]'

Corpus split (deterministic, same replica construction as
jobs/lsh_bench.py): replicas 1 and 2 of base docs with
pmod(base_doc_id, rounds) == r form delta round r; everything else is
the standing corpus. Each delta therefore carries real work on every
path: delta x corpus exact dups (rep 1 vs the corpus's rep 0),
delta x delta near-dups (rep 1 vs rep 2 inside the same round), and a
majority of non-matching docs.

Per round, the timed absorption is exactly what a rolling-crawl
maintenance job would run: read the CURRENT signature snapshot →
``doc_dedupe.incremental_near_dup`` (delta never re-shingles the
corpus; corpus side is a narrow scan of the signature table) →
append the returned delta signatures back to the table
(``iceberg.append_iceberg``) so round r+1 sees the
round-r docs through table state alone, never through recomputation.

Prints one JSON line {build_s, rounds: [{docs, wall_s, n_pairs,
sig_rows}], union_pairs, union_fp, rebuild: {datapath_s, restricted
pairs/fp}, fp_match, master}. fp_match MUST be true for the probe to
count; the fingerprint is bit_xor of xxhash64 over the distinct
(doc_a, doc_b) pair set (already orientation-normalized: doc_a <
doc_b by construction).

At 1M docs run the equality check as TWO processes — ``--skip-rebuild``
for the chained rounds, then ``--rebuild-only`` in a fresh JVM — and
compare union_fp/union_pairs to restricted_fp/restricted_pairs by
hand (the in-process rebuild after three rounds trips the shared
local-JVM driver-heap broadcast ceiling; a production backfill is a
separate job with its own executors anyway). The single-process
fp_match path is exercised at small scale by the smoke protocol
(sf0.01 --mult 4, recorded green in BENCH/BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REP_STRIDE = 1_000_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=200)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--threshold", type=float, default=0.6)
    ap.add_argument("--master", default=None)
    ap.add_argument("--skip-rebuild", action="store_true",
                    help="skip the full-rebuild equality check "
                         "(walls-only timing run)")
    ap.add_argument("--rebuild-only", action="store_true",
                    help="run ONLY the full rebuild + delta-restricted "
                         "fingerprint (fresh JVM: at 1M docs the "
                         "rebuild after 3 in-session rounds trips the "
                         "driver-heap broadcast ceiling; a production "
                         "backfill is its own job anyway)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mergeaddressesandbuildings_spark.operators import doc_dedupe
    from mergeaddressesandbuildings_spark.session import get_spark
    from mergeaddressesandbuildings_spark.sources import iceberg as ice

    spark = get_spark(master=args.master, app_name="incr-dedup-bench")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(os.path.join(args.sf_dir,
                                           "documents.parquet"))
    rep = F.col("rep")
    uniq_text = F.array_join(
        F.transform(F.split(F.col("text"), " "),
                    lambda w: F.concat(w, F.lit("_"), rep.cast("string"))),
        " ")
    all_docs = (
        base.withColumn("rep", F.explode(F.sequence(
            F.lit(0), F.lit(args.mult - 1))))
        .select(
            (F.col("doc_id") + rep * F.lit(_REP_STRIDE)).alias("doc_id"),
            F.when(rep <= 1, F.col("text"))               # exact-dup pair
            .when(rep == 2, F.concat(F.col("text"),       # near-dup
                                     F.lit(" near dup tail")))
            .otherwise(uniq_text)                         # globally unique
            .alias("text"),
        )
        .repartition(64, "doc_id")
    )
    rep_of = (F.col("doc_id") / F.lit(_REP_STRIDE)).cast("long")
    base_of = F.pmod(F.col("doc_id"), F.lit(_REP_STRIDE))
    is_delta_doc = rep_of.isin(1, 2)
    round_of = F.pmod(base_of, F.lit(args.rounds))

    corpus = all_docs.filter(~is_delta_doc)
    deltas = [all_docs.filter(is_delta_doc & (round_of == r))
              for r in range(args.rounds)]

    pair_fp_of = lambda cols: F.coalesce(  # noqa: E731
        F.bit_xor(F.xxhash64(*cols)), F.lit(0))

    if args.rebuild_only:
        t2 = time.monotonic()
        full = doc_dedupe.minhash_lsh_dedupe(
            all_docs, n=2, threshold=args.threshold, hash="xxhash64")
        restricted = full.filter(
            (F.col("doc_a") / _REP_STRIDE).cast("long").isin(1, 2)
            | (F.col("doc_b") / _REP_STRIDE).cast("long").isin(1, 2))
        rrow = restricted.agg(
            F.count("*").alias("n"),
            pair_fp_of(["doc_a", "doc_b"]).alias("fp")).collect()[0]
        print(json.dumps({
            "job": "incr_dedup_bench", "mode": "rebuild_only",
            "mult": args.mult,
            "datapath_s": round(time.monotonic() - t2, 2),
            "restricted_pairs": int(rrow["n"]),
            "restricted_fp": int(rrow["fp"]),
            "master": spark.sparkContext.master,
        }))
        spark.stop()
        return

    table_dir = tempfile.mkdtemp(prefix="incr_sigs_")
    out: dict = {"job": "incr_dedup_bench", "mult": args.mult,
                 "rounds": [], "master": spark.sparkContext.master}
    try:
        # --- one-time corpus signature build (the amortized cost a
        # standing table pays once, not per delta)
        t0 = time.monotonic()
        corpus_sigs = doc_dedupe.minhash_signatures(
            doc_dedupe.shingles(corpus, 2), hash="xxhash64")
        ice.write_iceberg(corpus_sigs, table_dir)
        out["build_s"] = round(time.monotonic() - t0, 2)
        out["corpus_docs"] = corpus.count()

        pair_fp = pair_fp_of(["doc_a", "doc_b"])
        union_pairs = None
        corpus_so_far = corpus
        for r in range(args.rounds):
            tr = time.monotonic()
            sig_table = ice.read_iceberg(spark, table_dir)
            pairs_r, dsigs_r = doc_dedupe.incremental_near_dup(
                deltas[r], corpus_so_far, sig_table,
                n=2, threshold=args.threshold, hash="xxhash64")
            pairs_r = pairs_r.select("doc_a", "doc_b").persist()
            n_pairs_r = pairs_r.count()
            sid = ice.append_iceberg(dsigs_r, table_dir)
            wall_r = round(time.monotonic() - tr, 2)
            rrec = {
                "round": r,
                "docs": deltas[r].count(),
                "wall_s": wall_r,
                "n_pairs": n_pairs_r,
                "sig_rows": ice.record_count(table_dir, sid),
            }
            out["rounds"].append(rrec)
            # progress line per round so a later failure can't lose
            # the already-measured walls
            print(json.dumps({"round_done": rrec}), file=sys.stderr,
                  flush=True)
            union_pairs = pairs_r if union_pairs is None \
                else union_pairs.union(pairs_r)
            corpus_so_far = corpus_so_far.union(deltas[r])

        union_pairs = union_pairs.distinct().persist()
        u = union_pairs.agg(F.count("*").alias("n"),
                            pair_fp.alias("fp")).collect()[0]
        out["union_pairs"] = int(u["n"])
        out["union_fp"] = int(u["fp"])

        if not args.skip_rebuild:
            t2 = time.monotonic()
            full = doc_dedupe.minhash_lsh_dedupe(
                all_docs, n=2, threshold=args.threshold, hash="xxhash64")
            restricted = full.filter(
                (F.col("doc_a") / _REP_STRIDE).cast("long").isin(1, 2)
                | (F.col("doc_b") / _REP_STRIDE).cast("long").isin(1, 2))
            rrow = restricted.agg(F.count("*").alias("n"),
                                  pair_fp.alias("fp")).collect()[0]
            out["rebuild"] = {
                "datapath_s": round(time.monotonic() - t2, 2),
                "restricted_pairs": int(rrow["n"]),
                "restricted_fp": int(rrow["fp"]),
            }
            out["fp_match"] = (out["union_fp"] == out["rebuild"]["restricted_fp"]
                               and out["union_pairs"]
                               == out["rebuild"]["restricted_pairs"])
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(table_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
