"""Byte-identity digest of the product's outputs: one JSON line mapping
each table to ``[sha256 over its sorted rows, row count]``.

Two trees give equal lines exactly when they produce the same rows, so a
refactor that claims unchanged output is checked by running this script
against the old and the new tree:

    PYTHONPATH=<tree> python tools/output_digest.py [--sf-dir DIR]

The script imports ``dedup_spark`` from ``PYTHONPATH`` (not from the
tree it sits in), so one copy of it digests either tree.

Tables (60-conversation seed-7 corpus, ``DedupConfig(anchor_sample_mod=4)``,
under both ``candidate_source`` values):

* ``batch.<source>.<table>``: a cold ``DedupPipeline.run`` —
  ``candidate_pairs``, ``verified_pairs``, ``clusters``,
  ``deduped_turns``, ``trimmed_turns``;
* ``fold.<source>.<table>``: bootstrap the first 45 conversation ids,
  then one ``apply`` appending the last 15 and removing the first 9 —
  ``verified_pairs``, ``clusters``, ``deduped_turns`` and the report's
  ``n_candidate_pairs`` (as ``[sha256 of the number, the number]``);
* ``entry.<query>``: the ``verified_token_pairs`` and ``cc_clusters``
  entry queries on the test data in ``--sf-dir`` (skipped without it).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import tempfile

N_CONVS, SEED, N_BOOT, N_ADD, N_REMOVE = 60, 7, 45, 15, 9
SOURCES = ("banding", "prefix")
BATCH_TABLES = (
    "candidate_pairs", "verified_pairs", "clusters", "deduped_turns",
    "trimmed_turns",
)
FOLD_TABLES = ("verified_pairs", "clusters", "deduped_turns")
ENTRY_QUERIES = ("verified_token_pairs", "cc_clusters")


def digest(df) -> list:
    """[sha256 over the sorted canonical rows, row count]; columns are
    taken in name order so a column reorder is not a difference."""
    cols = sorted(df.columns)
    rows = sorted(
        json.dumps(list(r), default=str) for r in df.select(*cols).collect()
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return [h, len(rows)]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", help="test-data dir for the entry queries")
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dedup_spark.config import DedupConfig
    from dedup_spark.corpus import CorpusSpec, generate_corpus
    from dedup_spark.incremental import IncrementalDedup
    from dedup_spark.pipeline import DedupPipeline
    from dedup_spark.session import get_spark

    spark = get_spark(master=args.master, app_name="output_digest",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, list] = {}
    turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=N_CONVS, seed=SEED))
    turns = spark.createDataFrame(turns_pdf).cache()
    convs = sorted({r.conv_id for r in turns.select("conv_id").collect()})
    boot, add = convs[:N_BOOT], convs[-N_ADD:]

    with tempfile.TemporaryDirectory(prefix="output_digest_") as tmp:
        for src in SOURCES:
            cfg = DedupConfig(anchor_sample_mod=4, candidate_source=src)
            res = DedupPipeline(spark, cfg, f"{tmp}/batch_{src}").run(turns)
            for t in BATCH_TABLES:
                out[f"batch.{src}.{t}"] = digest(getattr(res, t))

            inc = IncrementalDedup(spark, cfg, f"{tmp}/fold_{src}")
            inc.bootstrap(turns.filter(F.col("conv_id").isin(boot)))
            res = inc.apply(
                new_turns=turns.filter(F.col("conv_id").isin(add)),
                remove_conv_ids=boot[:N_REMOVE],
            )
            for t in FOLD_TABLES:
                out[f"fold.{src}.{t}"] = digest(getattr(res, t))
            n = res.report["n_candidate_pairs"]
            out[f"fold.{src}.n_candidate_pairs"] = [
                hashlib.sha256(str(n).encode()).hexdigest(), n
            ]

    if args.sf_dir:
        from dedup_spark.entry_queries import QUERIES

        for q in ENTRY_QUERIES:
            out[f"entry.{q}"] = digest(QUERIES[q].spark_fn(spark, args.sf_dir))
    spark.stop()
    print(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
