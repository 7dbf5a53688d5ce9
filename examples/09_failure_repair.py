"""Durability walkthrough: a writer dies between writing its data and
committing it. Readers never see the half-done upsert — the store keeps
serving the last committed version — the dead writer's data is an
invisible orphan generation that `vacuum_corpus_snapshot` reclaims, and
the retried upsert lands as the next version.

Completes the corpus-lifecycle story of 05_corpus_lifecycle.py: that
example shows the happy path; this one shows what the manifest commit
buys you when a writer does NOT survive — the scenario plain
dynamic-partition-overwrite leaves silently torn.

Run: python examples/09_failure_repair.py     (~30 s on local[8])
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.session import get_spark
from auto_data_linkage_spark.sources import corpusstore as C


def mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def rows(spark, root):
    return sorted(
        (r.doc_id, r.text) for r in C.load_corpus_snapshot(spark, root).collect()
    )


def main() -> None:
    spark = get_spark("example-failure-repair", cpus=8)
    root = os.path.join(tempfile.mkdtemp(prefix="repair_"), "corpus")
    data = os.path.join(root, "data")

    # 1. Seed a corpus snapshot: v1 commits cleanly.
    C.build_corpus_snapshot(
        mk(spark, [(1, "en", "alpha"), (2, "de", "beta")]), root,
        key="doc_id", partition_by=["lang"],
    )
    v1 = rows(spark, root)
    gens = set(os.listdir(data))
    print("v1 committed:", v1)

    # 2. A writer dies after writing its new generation but before its
    #    manifest commit (simulated by failing the commit call).
    real = M.commit_manifest

    def die(*a, **k):
        raise RuntimeError("writer died before its commit")

    M.commit_manifest = die
    try:
        C.upsert_corpus_snapshot(spark, root, mk(spark, [(3, "en", "gamma")]))
    except RuntimeError as e:
        print("writer died:", e)
    finally:
        M.commit_manifest = real

    # 3. Nothing torn, nothing to repair: readers still get v1 exactly.
    #    The dead writer's data sits in an orphan generation no
    #    manifest names.
    orphans = sorted(set(os.listdir(data)) - gens)
    print("orphan generations on disk:", orphans)
    assert orphans
    assert M.read_manifest(root)["version"] == 1
    assert rows(spark, root) == v1
    print("readers still see v1:", rows(spark, root))

    # 4. The vacuum reclaims the orphan (age floor 0: no writer is in
    #    flight here; the default floor protects in-flight writers).
    removed = C.vacuum_corpus_snapshot(root, min_age_seconds=0)
    print("vacuum removed:", removed["removed_gens"])
    assert not set(orphans) & set(os.listdir(data))

    # 5. The retry re-runs cleanly and commits the next version.
    r = C.upsert_corpus_snapshot(spark, root, mk(spark, [(3, "en", "gamma")]))
    print(f"retry committed as v{r['version']}")
    got = [d for d, _ in rows(spark, root)]
    print("corpus rows after retry:", got)
    assert r["version"] == 2 and got == [1, 2, 3]
    print("OK")


if __name__ == "__main__":
    main()
