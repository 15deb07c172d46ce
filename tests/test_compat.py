"""Reference-API veneer round trip: extract → save → load → combine →
compress with the i3cols-shaped function signatures (compat.py)."""

from __future__ import annotations

import json

from i3cols_spark import compat


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_reference_workflow_roundtrip(spark, tmp_path):
    src = tmp_path / "raw"
    src.mkdir()
    for run in (11, 12):
        _write_jsonl(
            str(src / f"events_Run{run:08d}_Subrun00000000.jsonl"),
            [{"event_id": i, "charge": i * 0.5, "npe": i % 7} for i in range(40)],
        )

    # extract_files_as_one with key selection (keys=... is the i3cols
    # projection contract; run/subrun ride along as category columns)
    df = compat.extract_files_as_one(
        spark, str(src), keys=["event_id", "charge"], outdir=str(tmp_path / "ds")
    )
    assert set(df.columns) == {"event_id", "charge", "run", "subrun"}
    assert df.count() == 80

    # load returns (lazy df, category index)
    loaded, cats = compat.load(spark, str(tmp_path / "ds"))
    assert cats["run"] == [11, 12]
    assert loaded.count() == 80
    # key-subset load prunes columns
    subset, _ = compat.load(spark, str(tmp_path / "ds"), keys=["event_id"])
    assert subset.columns == ["event_id"]

    # concatenate_and_index over two copies doubles rows, keeps runs
    merged = compat.concatenate_and_index(
        spark, [str(tmp_path / "ds"), str(tmp_path / "ds")], out=str(tmp_path / "merged")
    )
    assert merged.count() == 160

    # compress/decompress round trip preserves content
    compat.compress(spark, str(tmp_path / "ds"), str(tmp_path / "z"))
    compat.decompress(spark, str(tmp_path / "z"), str(tmp_path / "u"))
    z, _ = compat.load(spark, str(tmp_path / "u"))
    assert z.count() == 80
    assert sorted(z.columns) == sorted(loaded.columns)


def test_load_autodetects_native_npy_layout(spark, tmp_path):
    """compat.load on an UNCONVERTED i3cols dataset (npy column dirs)
    reads through read_npy_columns transparently."""
    import os

    import numpy as np

    d = str(tmp_path / "native")
    os.makedirs(os.path.join(d, "energy"))
    np.save(os.path.join(d, "energy", "data.npy"), np.arange(20, dtype=np.float64))
    df, cats = compat.load(spark, d, keys=["energy"])
    assert cats == {}
    rows = {r["event_id"]: r["energy"] for r in df.collect()}
    assert rows == {i: float(i) for i in range(20)}


def test_enum_registry_decode_roundtrip(spark):
    """Every registry enum builds a broadcastable dim and decodes its
    own codes losslessly (S14); codes are unique within each enum."""
    from i3cols_spark.sources.schemas import ENUMS, enum_dim

    assert set(ENUMS) == {
        "ParticleType", "FitStatus", "ParticleShape", "LocationType",
        "TriggerSourceID", "TriggerTypeID",
    }
    for name, mapping in ENUMS.items():
        assert len(mapping) == len(set(mapping)), name
        dim = enum_dim(spark, mapping)
        got = {r["code"]: r["name"] for r in dim.collect()}
        assert got == mapping, name
