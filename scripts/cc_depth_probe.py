#!/usr/bin/env python
"""Connected-components depth probe at large replication factors.

VERDICT r2 item 5: confirm the star-contraction closure stays O(log n)
rounds — not just sublinear wall-clock — when the corpus grows 100x,
and that no single star-join key skews.  The 20x probe in BASELINE.md
measures wall; THIS probe records the observables that prove the
algorithm (not the box) scales:

  * rounds to convergence (must grow ~log of component size, and the
    replication model keeps component sizes constant, so rounds should
    be FLAT in the factor).  The loop stops at the first round whose
    edges form a star forest, so the count no longer includes a
    confirming round that changed nothing;
  * per-round edge counts (monotone collapse toward star graphs);
  * max node degree of the input edge set (the star-join's hottest
    key — skew exposure is bounded by this, not by corpus size).

Replication model = scripts/scale_probe.py: replica doc_ids offset,
replica tokens suffixed, so each replica contributes the base corpus's
NATURAL dup structure (linear growth, no artificial 100-copy cliques).

Usage: python scripts/cc_depth_probe.py [factor ...]   (default: 1 20 100)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _edges(spark, sf_dir):
    """The dedup_groups_lsh_md5 edge set (exact-collapse star edges +
    LSH-verified near-dup pairs over representatives) — the closure's
    production input (queries/corpus_ops.py:1145)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nemscraper_spark.queries.common import fan_out, load_table
    from nemscraper_spark.queries.training_data import lsh_verified_pairs_md5

    d = fan_out(load_table(spark, sf_dir, "documents"))
    mapping = (
        d.select("doc_id", F.md5("text").alias("th"))
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("th")))
        .select("doc_id", "rep")
    )
    star = mapping.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    reps = mapping.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    near = lsh_verified_pairs_md5(d.join(reps, "doc_id"), threshold=0.5).select(
        "doc_a", "doc_b"
    )
    return near.unionByName(star)


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 20, 100]

    from pyspark.sql import functions as F

    from nemscraper_spark.operators.components import connected_components
    from nemscraper_spark.session import get_spark
    from scripts.scale_probe import replicate

    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="cc_depth_probe")
    spark.range(1).count()

    print(f"{'factor':>6s} {'docs':>9s} {'edges':>9s} {'maxdeg':>7s} "
          f"{'rounds':>6s} {'wall':>7s}  edge-counts-per-round")
    for factor in factors:
        if factor == 1:
            sf_dir, cleanup = base, None
        else:
            sf_dir = tempfile.mkdtemp(prefix=f"cc_depth_{factor}x_")
            cleanup = sf_dir
            # only documents needs the full factor; the probe reads
            # nothing else at scale
            replicate(spark, base, sf_dir, factor, tables={"documents"})
        try:
            n_docs = spark.read.parquet(
                os.path.join(sf_dir, "documents.parquet")
            ).count()
            e = _edges(spark, sf_dir).localCheckpoint(eager=True)
            n_edges = e.count()
            # hottest star-join key: max degree over the bidirectional
            # edge set — the largest single-key row group any round's
            # groupBy(u) can see
            bi = e.select("doc_a").union(e.select(F.col("doc_b").alias("doc_a")))
            maxdeg = (
                bi.groupBy("doc_a").count().agg(F.max("count")).collect()[0][0]
            )
            stats: dict = {}
            t0 = time.perf_counter()
            comp = connected_components(e, "doc_a", "doc_b", stats=stats)
            comp.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            print(
                f"{factor:>5d}x {n_docs:>9d} {n_edges:>9d} {maxdeg:>7d} "
                f"{stats['rounds']:>6d} {wall:>6.1f}s  {stats['edges']}",
                flush=True,
            )
        finally:
            if cleanup:
                shutil.rmtree(cleanup, ignore_errors=True)


if __name__ == "__main__":
    main()
