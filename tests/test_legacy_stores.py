"""Stores written by the retired in-place (two-rename swap) layout are
rejected on open with a ValueError that names the path and the call
that rebuilds the store — never a confusing manifest-read error."""

import json
import os

import pytest

from auto_data_linkage_spark.operators import annindex as A
from auto_data_linkage_spark.operators import graph as G
from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.streaming.linkage import StreamingLinker


def _index_json(root):
    with open(os.path.join(root, "index.json"), "w") as f:
        json.dump({"version": 1, "n_docs": 0, "sum_dl": 0}, f)


def _subdir(name):
    return lambda root: os.makedirs(os.path.join(root, name))


@pytest.mark.parametrize(
    "marker, open_store, rebuild",
    [
        (_index_json, L.load_lex_index, "build_lex_index"),
        (_index_json, A.load_ann_index, "build_ann_index"),
        (_subdir("bucket=0"), G.load_edges, "edge_store_sink"),
        (
            _subdir("batch=0"),
            lambda spark, root: StreamingLinker(None, root).current_clusters(
                spark
            ),
            "StreamingLinker",
        ),
    ],
    ids=["lex", "ann", "edges", "linker"],
)
def test_legacy_store_is_rejected_with_rebuild_hint(
    spark, tmp_path, marker, open_store, rebuild
):
    root = str(tmp_path / "store")
    os.makedirs(root)
    marker(root)
    with pytest.raises(ValueError, match=rebuild) as err:
        open_store(spark, root)
    assert root in str(err.value)
