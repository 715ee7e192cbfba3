"""The input generators give the same bytes for the same seed."""

import pandas as pd

import gen


def _digests(tmp_path, seed, tag):
    d = tmp_path / f"{tag}-{seed}"
    gen.write_tables(str(d / "tables"), seed, 0.001)
    gen.write_cmapss(str(d / "cmapss"), seed)
    gen.write_grouped_ts(str(d / "ts"), seed)
    return {k: gen.digest(str(d / k)) for k in ("tables", "cmapss", "ts")}


def test_same_seed_same_bytes(tmp_path):
    assert _digests(tmp_path, 7, "a") == _digests(tmp_path, 7, "b")


def test_other_seed_other_bytes(tmp_path):
    a, b = _digests(tmp_path, 7, "a"), _digests(tmp_path, 8, "a")
    assert all(a[k] != b[k] for k in a)


def test_fixture_shapes(tmp_path):
    train, test = gen.write_cmapss(str(tmp_path), 3)
    tr, te = pd.read_csv(train), pd.read_csv(test)
    assert list(tr.columns) == list(te.columns)
    assert tr["sensor_22"].isna().all()
    assert tr[gen.CMAPSS_LABEL].min() == 0
    ts = pd.read_csv(gen.write_grouped_ts(str(tmp_path), 3))
    sizes = ts.groupby(gen.TS_GROUP).size()
    assert len(sizes) == 8 and sizes.min() < 4      # zero-windows group
    assert ts["temp"].isna().any() and not ts["temp"].isna().all()
    lag1 = ts.groupby(gen.TS_GROUP)["storage"].apply(lambda s: s.autocorr(1))
    assert (lag1[sizes[sizes > 50].index] > 0.5).all()   # planted AR(1)
