"""Bucket parity of ``LakeTable.prune_for_keys``.

The lookup side buckets its keys with the table's hash over a local
relation of the values; the writer buckets rows with the same hash over
the data. Any drift between the two (a key typed differently, a seed
ignored) would prune away the file that holds the row. Pinned here for
string and integral first keys, seeded and legacy unseeded tables.
"""

import os

import pytest

from ds_floodexposure_monitoring_spark.operators.compact import merge_append
from ds_floodexposure_monitoring_spark.sources.lake import LakeTable

KEY_TYPES = {
    "string": lambda i: f"conv-{i:05d}",
    "long": lambda i: i * 7_919 - 50_000,
    "int": lambda i: i * 31 - 1_000,
}


def _table(spark, root, key_type, seeded, monkeypatch):
    if not seeded:
        # tables created before the seeded hash carry bucket_seed 0
        monkeypatch.setattr(LakeTable, "BUCKET_SEED", 0)
    t = LakeTable.create(
        spark,
        os.path.join(root, f"{key_type}-{seeded}"),
        spark.createDataFrame([], f"k {key_type}, v string").schema,
        merge_keys=("k",),
        n_buckets=8,
    )
    assert t.current()["bucket_seed"] == (LakeTable.BUCKET_SEED if seeded else 0)
    keys = [KEY_TYPES[key_type](i) for i in range(120)]
    for part in range(2):
        rows = [(n, k, f"v{k}") for n, k in enumerate(keys) if n % 2 == part]
        merge_append(
            t, spark.createDataFrame(rows, f"lsn long, k {key_type}, v string"),
            batch_id=f"b{part}",
        )
    return t, keys


@pytest.mark.parametrize("seeded", [True, False], ids=["seeded", "unseeded"])
@pytest.mark.parametrize("key_type", sorted(KEY_TYPES))
def test_probed_key_maps_to_written_bucket(spark, tmpdir_path, monkeypatch, key_type, seeded):
    t, keys = _table(spark, tmpdir_path, key_type, seeded, monkeypatch)
    written = {}
    for f in t.files():
        for r in t.scan(files=[f]).select("k").collect():
            written[r["k"]] = f.bucket
    assert sorted(written) == sorted(keys)
    assert len(set(written.values())) > 1
    for k in keys[::7]:
        kept = t.prune_for_keys([k])
        assert {f.bucket for f in kept} == {written[k]}, k
    # a multi-key probe keeps every file that holds one of the keys
    holding = {f.path for f in t.files()}
    assert {f.path for f in t.prune_for_keys(keys)} == holding


def test_empty_and_wrong_type_probes(spark, tmpdir_path, monkeypatch):
    st, _ = _table(spark, tmpdir_path, "string", True, monkeypatch)
    lt, _ = _table(spark, tmpdir_path, "long", True, monkeypatch)
    assert st.prune_for_keys([]) == []
    assert lt.prune_for_keys([]) == []
    # rejected as createDataFrame rejects them: no coercion into an
    # integral key
    for bad in ("conv-00001", 1.5, True):
        with pytest.raises(TypeError):
            lt.prune_for_keys([bad])
    # ... while a string key takes any value as its str(), as there
    assert st.prune_for_keys([5]) == st.prune_for_keys(["5"])
