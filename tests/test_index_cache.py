"""The /tmp index and table caches of the registry queries are keyed on
the dataset: the directory name hashes the dataset's real path (and
the source of the module that builds the cache), so a cached index or
table is never read for another dataset that shares its basename.
No Spark."""

from __future__ import annotations

import os

from hnormalise_spark import table
from hnormalise_spark.ops import dedup, entry, similarity, textops

# (kind, builder) of every cache a registry query keeps under /tmp
CACHES = [
    ("ivf_index_37", similarity),
    ("bm25_index_64b", textops),
    ("fp_index_64b", dedup),
    ("tableq", table),
]


def test_index_dir_keys_on_dataset_path(tmp_path):
    a, b = tmp_path / "a" / "sf0.01", tmp_path / "b" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    os.symlink(a, tmp_path / "link")
    for kind, builder in CACHES:

        def key(sf):
            return entry._index_dir(kind, str(sf), builder)

        assert key(a) == key(a) == key(f"{a}/") == key(tmp_path / "link"), kind
        assert key(a) != key(b), kind
        assert os.path.basename(key(a)).startswith(f"hnorm_{kind}_sf0.01_"), kind


def test_index_dir_keys_on_builder(tmp_path):
    """Two builders of one dataset never share a directory."""
    sf = str(tmp_path / "sf0.01")
    dirs = {entry._index_dir("idx", sf, builder) for _, builder in CACHES}
    assert len(dirs) == len(CACHES)
