"""Corpus layout sinks: file-count discipline, sort clustering,
compaction, and manifest fidelity."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.sources import layout as L


@pytest.fixture()
def corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", "text", "lang", "source")


def _parquet_files(root):
    return [
        p
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if os.path.basename(p) != "_SUCCESS"
    ]


def test_write_corpus_bounds_files_per_partition(spark, corpus, tmp_path):
    out = str(tmp_path / "corpus")
    L.write_corpus(
        corpus, out, partition_by=["lang", "source"], sort_by=["doc_id"]
    )
    n_parts = corpus.select("lang", "source").distinct().count()
    files = _parquet_files(out)
    # one task per partition value -> exactly one file per directory
    assert len(files) == n_parts
    back = spark.read.parquet(out)
    assert back.count() == corpus.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in corpus.select("doc_id").collect()
    }


def test_write_corpus_salted_spread(spark, corpus, tmp_path):
    """The salt must spread a hot partition over multiple tasks/files.

    At test scale AQE's partition coalescing re-merges the tiny salted
    partitions (the desirable prod behavior for SMALL partitions — the
    salt only matters once partitions exceed the advisory size), so pin
    the mechanism with coalescing disabled.
    """
    out = str(tmp_path / "salted")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        L.write_corpus(
            corpus,
            out,
            partition_by=["lang"],
            files_per_partition=3,
        )
    finally:
        spark.conf.set(key, old)
    n_langs = corpus.select("lang").distinct().count()
    files = _parquet_files(out)
    assert n_langs < len(files) <= 3 * n_langs
    assert spark.read.parquet(out).count() == corpus.count()


def test_write_corpus_sorted_within_files(spark, corpus, tmp_path):
    out = str(tmp_path / "sorted")
    L.write_corpus(
        corpus, out, partition_by=["lang"], sort_by=["doc_id"]
    )
    for f in _parquet_files(out):
        ids = [r.doc_id for r in spark.read.parquet(f).collect()]
        assert ids == sorted(ids)


def test_write_corpus_max_records_splits_files(spark, corpus, tmp_path):
    out = str(tmp_path / "capped")
    n = corpus.count()
    L.write_corpus(
        corpus,
        out,
        partition_by=["lang"],
        max_records_per_file=max(1, n // 10),
    )
    # the row cap forces multiple files even with one task per partition
    assert len(_parquet_files(out)) > corpus.select("lang").distinct().count()
    assert spark.read.parquet(out).count() == n


def test_compact_corpus_round_trip(spark, corpus, tmp_path):
    messy = str(tmp_path / "messy")
    # simulate small-files damage: many tasks x partitions
    corpus.repartition(8).write.partitionBy("lang").parquet(messy)
    assert len(_parquet_files(messy)) > corpus.select("lang").distinct().count()
    total = L.compact_corpus(
        spark, messy, partition_by=["lang"], sort_by=["doc_id"]
    )
    assert total == corpus.count()
    compacted = messy + "__compact"
    back = spark.read.parquet(compacted)
    assert back.count() == total
    assert len(_parquet_files(compacted)) >= corpus.select("lang").distinct().count()


def test_corpus_manifest_counts_and_ranges(spark, corpus, tmp_path):
    out = str(tmp_path / "manifest_src")
    L.write_corpus(corpus, out, partition_by=["lang"], sort_by=["doc_id"])
    man = L.corpus_manifest(
        spark, out, partition_by=["lang"], stat_cols=["doc_id"]
    ).collect()
    want = {
        r.lang: r.n
        for r in corpus.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    got = {r.lang: r.n_rows for r in man}
    assert got == want
    for r in man:
        assert r.min_doc_id <= r.max_doc_id


def test_upsert_corpus_merges_and_preserves_untouched(spark, corpus, tmp_path):
    root = str(tmp_path / "upsert")
    L.write_corpus(corpus, root, partition_by=["lang"], sort_by=["doc_id"])
    untouched_before = {
        f: os.path.getmtime(f)
        for f in _parquet_files(root)
        if "lang=en" not in f
    }
    en = [r.doc_id for r in corpus.where("lang = 'en'").limit(2).collect()]
    delta = spark.createDataFrame(
        [
            (en[0], "replaced text", "en", "src_new"),   # update
            (10_000_001, "brand new doc", "en", "src_new"),  # insert
        ],
        "doc_id long, text string, lang string, source string",
    )
    res = L.upsert_corpus(
        spark, root, delta, key="doc_id", partition_by=["lang"]
    )
    assert res["partitions"] == 1
    back = spark.read.parquet(root)
    assert back.count() == corpus.count() + 1
    got = {r.doc_id: r.text for r in back.where("lang = 'en'").collect()}
    assert got[en[0]] == "replaced text"
    assert got[10_000_001] == "brand new doc"
    assert en[1] in got  # survivor kept
    # untouched partitions: same files, untouched on disk
    untouched_after = {
        f: os.path.getmtime(f)
        for f in _parquet_files(root)
        if "lang=en" not in f
    }
    assert untouched_after == untouched_before


def test_upsert_corpus_first_ingest(spark, corpus, tmp_path):
    root = str(tmp_path / "fresh")
    delta = corpus.limit(10)
    res = L.upsert_corpus(
        spark, root, delta, key="doc_id", partition_by=["lang"]
    )
    assert res["rows_written"] == 10
    assert spark.read.parquet(root).count() == 10


def test_upsert_corpus_multi_partition_cols(spark, corpus, tmp_path):
    root = str(tmp_path / "multi")
    L.write_corpus(corpus, root, partition_by=["lang", "source"])
    one = corpus.limit(1).collect()[0]
    delta = spark.createDataFrame(
        [(one.doc_id, "patched", one.lang, one.source)],
        "doc_id long, text string, lang string, source string",
    )
    L.upsert_corpus(
        spark, root, delta, key="doc_id", partition_by=["lang", "source"]
    )
    back = spark.read.parquet(root)
    assert back.count() == corpus.count()
    assert (
        back.where(back.doc_id == one.doc_id).collect()[0].text == "patched"
    )


def test_upsert_corpus_empty_delta_is_noop(spark, corpus, tmp_path):
    root = str(tmp_path / "noop")
    L.write_corpus(corpus, root, partition_by=["lang"])
    before = {f: os.path.getmtime(f) for f in _parquet_files(root)}
    empty = corpus.limit(0)
    res = L.upsert_corpus(spark, root, empty, key="doc_id", partition_by=["lang"])
    assert res == {"partitions": 0, "rows_written": 0}
    assert {f: os.path.getmtime(f) for f in _parquet_files(root)} == before


# ---------------------------------------------------------- CommitStore
# The primitive tests below run against every backend: the POSIX
# O_CREAT|O_EXCL impl, the in-memory conditional-put impl (the
# object-store stand-in) and the S3 one — the manifest commit log
# (operators/manifestfs.py) needs only these primitives.


def _s3_store():
    """moto-backed S3CommitStore, or a skip when moto/boto3 is absent
    (optional dependencies). Returns (store, mock); the CALLER must
    stop the mock at teardown — leaving it running turns every later
    ``moto.mock_aws()`` context in the process into a NESTED mock
    whose exit does not reset state, leaking objects across tests
    (observed: test_s3commitstore seeing another test's keys)."""
    moto = pytest.importorskip("moto")
    import boto3

    mock = moto.mock_aws()
    mock.start()
    client = boto3.client("s3", region_name="us-east-1")
    client.create_bucket(Bucket="commit-log-test")
    store = L.S3CommitStore(
        "commit-log-test", "stores/lex/_manifests", client=client
    )
    return store, mock


@pytest.fixture(params=["posix", "memory", "s3"])
def commit_store(request, tmp_path):
    if request.param == "posix":
        yield L.PosixCommitStore(str(tmp_path / "log"))
    elif request.param == "s3":
        store, mock = _s3_store()
        try:
            yield store
        finally:
            mock.stop()
    else:
        yield L.MemoryCommitStore()


def test_commit_store_create_exclusive_once(commit_store):
    assert commit_store.create_exclusive("v1.json", {"version": 1})
    assert not commit_store.create_exclusive("v1.json", {"version": 1})
    assert commit_store.list_records()["v1.json"]["version"] == 1


def test_commit_store_replace_and_remove(commit_store):
    commit_store.create_exclusive("v1.json", {"version": 1, "state": "pending"})
    commit_store.replace("v1.json", {"version": 1, "state": "committed"})
    assert commit_store.list_records()["v1.json"]["state"] == "committed"
    commit_store.remove("v1.json")
    assert "v1.json" not in commit_store.list_records()
