"""The benchmark's workloads, each driven through the public API.

A workload object is built once per run and used in this order:

- ``make_inputs()`` generates the seeded input and hands it to Spark;
- ``job()`` is one job; the run calls it once as an untimed warm-up,
  then in a timed closed loop, one at a time;
- ``fold(i)`` folds arriving batch ``i`` into the first job's result
  with delta-sized work; the run times ``FOLDS`` of them;
- ``recluster()`` re-clusters the whole final table with the model or
  settings already chosen: the full-run yardstick for the folds;
- ``check()`` returns the correctness problems found (empty list = ok)
  and ``f1()`` the quality against the planted truth. Both run after
  the clock has stopped.

The warm-up pays JIT, code generation and Python worker start-up; the
timed passes after it measure the engine, not the cold start.

Every timed call ends in a materialization (``collect`` of the result
rows, or an eager checkpoint inside the API), so the clock covers the
work and not just plan construction.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

from pyspark.sql import functions as F

from perfbench import inputs
from tests.febrl_fixture import SCHEMA, make_people

THRESHOLD = 0.8  # clustering threshold of every linkage workload


def sink(df) -> list:
    """The final materialization of a timed call: the result rows."""
    return df.collect()


def pairwise_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of a clustering ``pred`` (id -> cluster) against the
    planted ``truth`` (id -> entity), by group-size pair counting."""

    def pairs(keys) -> int:
        return sum(c * (c - 1) // 2 for c in Counter(keys).values())

    ids = list(pred)
    predicted = pairs(pred[i] for i in ids)
    actual = pairs(truth[i] for i in ids)
    tp = pairs((pred[i], truth[i]) for i in ids)
    if not tp:
        return 0.0
    precision, recall = tp / predicted, tp / actual
    return 2 * precision * recall / (precision + recall)


def coverage_problems(rows: list, expected_ids: set) -> list[str]:
    """A clustering must list every input id exactly once."""
    counts = Counter(r[0] for r in rows)
    problems = []
    dup = [i for i, c in counts.items() if c > 1]
    if dup:
        problems.append(f"{len(dup)} ids clustered more than once, e.g. {dup[:3]}")
    missing = expected_ids - counts.keys()
    if missing:
        problems.append(f"{len(missing)} input ids missing, e.g. {sorted(missing)[:3]}")
    extra = counts.keys() - expected_ids
    if extra:
        problems.append(f"{len(extra)} ids not in the input, e.g. {sorted(extra)[:3]}")
    return problems


def mismatch_problems(got: dict, want: dict, what: str) -> list[str]:
    """Label-for-label comparison of two clusterings (id -> cluster)."""
    if got.keys() != want.keys():
        return [f"{what}: id sets differ ({len(got)} vs {len(want)} ids)"]
    bad = [i for i in got if got[i] != want[i]]
    if bad:
        return [f"{what}: {len(bad)} ids labelled differently, e.g. {bad[:3]}"]
    return []


def dropped_f1(survivors: set, group: list[int]) -> float:
    """F1 of the documents a curation pass dropped against the planted
    duplicates: every group should keep exactly one member. Dropping a
    group's last copy counts one drop as wrong; keeping two copies misses
    one drop."""
    members = Counter(group)
    kept = Counter(group[d] for d in survivors)
    should_drop = sum(n - 1 for n in members.values())
    dropped = len(group) - len(survivors)
    right = sum(n - max(kept[g], 1) for g, n in members.items())
    if not right:
        return 0.0
    precision, recall = right / dropped, right / should_drop
    return 2 * precision * recall / (precision + recall)


def _rows_to_map(rows) -> dict:
    return {r[0]: r[1] for r in rows}


class Dedup:
    """The paper's headline run, then the dynamic-data case on its result.

    The job is a zero-label ``AutoLinker.auto_link`` on a FEBRL-style
    dirty-people table plus the best clustering at 0.8. A stream of
    held-out batches is then folded into that clustering with
    ``AutoLinker.incremental_update`` (delta-sized work), and the final
    table is re-clustered in full with the same model as the yardstick.
    """

    # ~11.9k rows, ~10.4k of them in the base: above the 10k estimation
    # sample, so AutoLinker's "auto" scale guards are active
    N_ENTITIES = 8_500
    DUP_FRACTION = 0.4
    PAIR_BUDGET = 100_000
    MAX_EVALS = 1  # one search trial: the chosen model is the same on every seed
    ATTRS = ["given_name", "surname", "postcode", "date_of_birth"]
    BATCH_ROWS = 300
    FOLDS = 3  # the first fold still compiles fold-only plans; the median skips it

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.linker = None  # the last job's
        self.fold_linker = None  # the first job's: the folds and re-clusterings use it
        self._folded = None

    def _frame(self, rows):
        from auto_data_linkage_spark.session import local_rows_df

        return (
            local_rows_df(self.spark, rows, SCHEMA)
            .drop("recid")  # zero-label: the linker never sees the truth
            .localCheckpoint(eager=True)
        )

    def make_inputs(self) -> None:
        rows = make_people(self.N_ENTITIES, dup_fraction=self.DUP_FRACTION, seed=self.seed)
        base, batches = inputs.split_stream(rows, self.FOLDS, self.BATCH_ROWS, self.seed)
        self.truth = {r[0]: r[-1] for r in rows}
        self.base_ids = {r[0] for r in base}
        self.folded_ids = set(self.base_ids)
        self.people = self._frame(base)
        self.batches = [(self._frame(b), {r[0] for r in b}) for b in batches]

    def job(self):
        from auto_data_linkage_spark.autolink import AutoLinker

        self.linker = AutoLinker(
            comparison_size_limit=self.PAIR_BUDGET,
            max_evals=self.MAX_EVALS,
            attribute_columns=self.ATTRS,
        )
        self.linker.auto_link(self.people)
        clusters = self.linker.best_clusters_at_threshold(THRESHOLD)
        rows = sink(clusters.select("unique_id", "cluster_id"))
        if self.fold_linker is None:
            self.fold_linker = self.linker
        else:
            # a later job frees its own cache when it is done, so every
            # timed job starts from the same cache state: the warm-up
            # job's, which the folds use
            for df in (self.linker.clean_data, self.linker.best_predictions):
                if df is not None:
                    df.unpersist()
        return rows

    def fold(self, i: int):
        """Folds batch ``i`` into the first job's clustering."""
        batch, ids = self.batches[i]
        self.fold_linker.incremental_update(batch, THRESHOLD)
        self.folded_ids |= ids

    def recluster(self):
        from auto_data_linkage_spark import cluster

        data = self.fold_linker.clean_data
        preds = self.fold_linker.best_trial.model.predict(data)
        full = cluster.cluster_at_threshold(data, preds, THRESHOLD, "unique_id")
        return sink(full.select("unique_id", "cluster_id"))

    def folded(self) -> dict:
        """The clustering after the last fold (read once, after the clock)."""
        if self._folded is None:
            clusters = self.fold_linker.best_clusters_at_threshold(THRESHOLD)
            self._folded = _rows_to_map(clusters.select("unique_id", "cluster_id").collect())
        return self._folded

    def check(self, results, reclustered) -> list[str]:
        problems = []
        for rows in results:
            problems += coverage_problems(rows, self.base_ids)
        folded = self.folded()
        problems += coverage_problems(list(folded.items()), self.folded_ids)
        problems += mismatch_problems(
            folded, _rows_to_map(reclustered), "folded clustering vs full re-clustering"
        )
        return problems

    def f1(self, results) -> float:
        return pairwise_f1(self.folded(), self.truth)


class Curate:
    """The catalog's ``curate_documents`` query (quality/language gate,
    exact dedup, MinHash-LSH with Jaccard verification, connected
    components, keeper) on a seeded corpus with planted duplicates. The
    fold is the catalog's ``incremental_dedup_docs`` query: every tenth
    document arrives as a batch and is near-deduplicated against the
    rest with delta-sized work. The yardstick re-clusters the whole
    corpus: verified MinHash pairs plus connected components."""

    N_DOCS = 2_500
    EXACT_SHARE = 0.05
    NEAR_SHARE = 0.10
    FOLDS = 3
    ORACLE_DOCS = 60  # DuckDB's recursive CC is slow; check a small instance
    # the catalog query's LSH settings (queries_llm: _MH_HASHES, _SHINGLE_K,
    # _CURATE_JACCARD), reused by the re-clustering yardstick
    NUM_HASHES, SHINGLE_K, JACCARD = 4, 3, 0.7

    def __init__(self, spark, seed: int, work: str):
        from auto_data_linkage_spark import queries as catalog

        self.spark, self.seed, self.work = spark, seed, work
        self.query = catalog.queries()["curate_documents"]
        self.fold_query = catalog.queries()["incremental_dedup_docs"]
        self.fold_results: list = []

    @staticmethod
    def _write(rows, directory: str) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(directory, exist_ok=True)
        cols = list(zip(*rows))
        table = pa.table({name: list(col) for name, col in zip(inputs.DOC_COLUMNS, cols)})
        pq.write_table(table, os.path.join(directory, "documents.parquet"))
        return directory

    def make_inputs(self) -> None:
        rows, self.group = inputs.documents(
            self.N_DOCS, self.EXACT_SHARE, self.NEAR_SHARE, self.seed
        )
        self.texts = [r[1] for r in rows]
        self.dir = self._write(rows, os.path.join(self.work, "corpus"))

    def job(self):
        rows = sink(self.query(self.spark, self.dir))
        return sorted(r["doc_id"] for r in rows)

    def fold(self, i: int):
        rows = sink(self.fold_query(self.spark, self.dir))
        self.fold_results.append(sorted(r["doc_id"] for r in rows))

    def recluster(self):
        from auto_data_linkage_spark import cluster
        from auto_data_linkage_spark.operators import dedup

        docs = self.spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        pairs = dedup.minhash_dedup_pairs(
            docs,
            jaccard_threshold=self.JACCARD,
            num_hashes=self.NUM_HASHES,
            num_bands=self.NUM_HASHES,
            shingle_k=self.SHINGLE_K,
        )
        edges = pairs.select(F.col("doc_id_l").alias("src"), F.col("doc_id_r").alias("dst"))
        return sink(cluster.connected_components(edges))

    def check(self, results, reclustered) -> list[str]:
        problems = []
        for what, runs in (("curated survivors", results), ("fold survivors", self.fold_results)):
            digests = {hashlib.sha256(repr(ids).encode()).hexdigest() for ids in runs}
            if len(digests) > 1:
                problems.append(f"{what} differ between passes of one seed")
        texts = Counter(" ".join(self.texts[i].lower().split()) for i in results[-1])
        shared = sum(1 for c in texts.values() if c > 1)
        if shared:
            problems.append(f"{shared} exact texts survive curation more than once")
        if any(i % 10 for ids in self.fold_results for i in ids):
            problems.append("fold kept a document that was not in the arriving batch")
        problems += self._oracle_problems()
        return problems

    def _oracle_problems(self) -> list[str]:
        """The catalog query against its DuckDB oracle, on a small instance
        from the same generator (tools/check_oracle.compare_query)."""
        from auto_data_linkage_spark import queries as catalog
        from tools.check_oracle import compare_query, duckdb_connect

        rows, _ = inputs.documents(
            self.ORACLE_DOCS, self.EXACT_SHARE, self.NEAR_SHARE, self.seed
        )
        small = self._write(rows, os.path.join(self.work, "oracle"))
        sql = catalog.oracle_sql()["curate_documents"]
        con = duckdb_connect(small)
        try:
            return [f"oracle: {p}" for p in compare_query(self.spark, con, self.query, sql, small)]
        finally:
            con.close()

    def f1(self, results) -> float:
        return dropped_f1(set(results[-1]), self.group)


WORKLOADS = {"dedup": Dedup, "curate": Curate}
