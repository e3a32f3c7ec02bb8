"""The ANN/IVF index caches are keyed on the dataset: the directory
name hashes the dataset's real path (and the source of ``similarity``,
where every index builder lives), so a cached index is never read for
another dataset that shares its basename. No Spark."""

from __future__ import annotations

import os

from hnormalise_spark.ops import entry


def test_index_dir_keys_on_dataset_path(tmp_path):
    a, b = tmp_path / "a" / "sf0.01", tmp_path / "b" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    os.symlink(a, tmp_path / "link")

    def key(sf):
        return entry._index_dir("ivf_index_37", str(sf))

    assert key(a) == key(a) == key(f"{a}/") == key(tmp_path / "link")
    assert key(a) != key(b)
    assert os.path.basename(key(a)).startswith("hnorm_ivf_index_37_sf0.01_")
