"""Golden + property tests for the bucketing expression library:
the Spark column expressions must agree exactly with the pure-Python
executable spec (select_bucket_py) on a dense grid of edge cases."""

from __future__ import annotations

import pytest

from anime_data_pipeline_spark.operators.bucketing import (
    BucketConfig,
    assign_bucket_columns,
    crop_ltrb_columns,
    crop_ltrb_py,
    make_bucket_resolutions,
    select_bucket_py,
)

# Edge cases: extreme ARs, exact predefined resos, squares, tiny, huge,
# odd sizes, just-above/below max_area.
CASES = [
    (64, 2048), (2048, 64), (1024, 1024), (832, 1216), (1216, 832),
    (512, 512), (513, 511), (1023, 1025), (100, 100), (3000, 2000),
    (2000, 3000), (4096, 4096), (65, 4095), (767, 1367), (1366, 768),
    (640, 480), (1920, 1080), (300, 300), (256, 256), (2048, 2048),
    (999, 1001), (1025, 1023), (896, 1152), (1152, 896), (127, 911),
]


@pytest.fixture(scope="module", params=[False, True], ids=["upscale", "no_upscale"])
def cfg(request):
    return BucketConfig(no_upscale=request.param)


def test_make_bucket_resolutions_properties():
    cfg = BucketConfig()
    resos = make_bucket_resolutions(cfg)
    assert resos == sorted(set(resos))
    for w, h in resos:
        assert w % cfg.reso_steps == 0 and h % cfg.reso_steps == 0
        if (w, h) != (1024, 1024):
            assert cfg.min_size <= w <= cfg.max_size
    # transpose symmetry (bucket_manager.py:21-22)
    assert all((h, w) in set(resos) for w, h in resos)
    assert (1024, 1024) in resos


def test_bucket_columns_match_python_spec(spark, cfg):
    rows = [(i, w, h) for i, (w, h) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "image_key int, width int, height int")
    got = {
        r["image_key"]: r
        for r in assign_bucket_columns(df, cfg=cfg).collect()
    }
    for i, (w, h) in enumerate(CASES):
        exp = select_bucket_py(w, h, cfg)
        act = got[i]
        for k, v in exp.items():
            if k == "ar_error":
                assert act[k] == pytest.approx(v, abs=0, rel=0), (w, h, k)
            else:
                assert act[k] == v, (w, h, k, act[k], v)


def test_upscale_invariant_resized_covers_bucket(spark):
    """bucket_manager.py:200 — resized size must cover the bucket."""
    cfg = BucketConfig()
    rows = [(i, w, h) for i, (w, h) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "image_key int, width int, height int")
    for r in assign_bucket_columns(df, cfg=cfg).collect():
        assert r["resized_w"] >= r["bucket_w"]
        assert r["resized_h"] >= r["bucket_h"]


def test_noupscale_invariants(spark):
    cfg = BucketConfig(no_upscale=True)
    rows = [(i, w, h) for i, (w, h) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "image_key int, width int, height int")
    for r in assign_bucket_columns(df, cfg=cfg).collect():
        assert r["bucket_w"] % cfg.reso_steps == 0
        assert r["bucket_h"] % cfg.reso_steps == 0
        assert r["bucket_w"] <= r["resized_w"]
        assert r["bucket_h"] <= r["resized_h"]


def test_crop_ltrb_matches_python_spec(spark):
    cfg = BucketConfig()
    rows = [(i, w, h) for i, (w, h) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "image_key int, width int, height int")
    assigned = assign_bucket_columns(df, cfg=cfg)
    for r in crop_ltrb_columns(assigned).collect():
        exp = crop_ltrb_py(r["bucket_w"], r["bucket_h"], r["width"], r["height"])
        act = (r["crop_left"], r["crop_top"], r["crop_right"], r["crop_bottom"])
        assert act == pytest.approx(exp, abs=0, rel=0), (r["width"], r["height"])


def test_exact_ar_tie_matches_reference_in_all_three_engines(spark):
    """(45, 92) ties EXACTLY between 704x1408 and 704x1472: both
    errors are 1/92 in rationals AND equal as IEEE doubles, so the
    reference's np.argmin (bucket_manager.py:108-109, first minimal
    index over the sorted reso order) picks 704x1408. Found at the
    r10 100x sweep: DuckDB typed the oracle's bare float VALUES
    literals DECIMAL(18,17), its non-double subtraction made the
    errors unequal, and the tie silently flipped to 704x1472 — the
    oracle now CASTs the reso table to DOUBLE. Pins all three
    implementations (python spec, Spark columns, DuckDB oracle) on
    the tie and on a near-tie neighbor."""
    import duckdb

    from anime_data_pipeline_spark.operators.bucketing import bucket_oracle_sql

    cfg = BucketConfig()
    exp = select_bucket_py(45, 92, cfg)
    assert (exp["bucket_w"], exp["bucket_h"]) == (704, 1408)

    df = spark.createDataFrame([(1, 45, 92)], "image_key int, width int, height int")
    act = assign_bucket_columns(df, cfg=cfg).collect()[0]
    assert (act["bucket_w"], act["bucket_h"]) == (704, 1408)

    sql = bucket_oracle_sql(
        "SELECT 1 AS image_key, CAST(45 AS INTEGER) AS width,"
        " CAST(92 AS INTEGER) AS height", cfg
    )
    row = duckdb.sql(sql).fetchall()[0]
    assert (row[1], row[2]) == (704, 1408), row
    # and the generated SQL must carry the DOUBLE cast that keeps the
    # errors in IEEE-double arithmetic (reverting it flips the row
    # assertion above too — this names the mechanism in the failure)
    assert "AS DOUBLE))" in sql


def test_full_input_lattice_three_way_parity(spark):
    """EXHAUSTIVE sweep of the entire (w, h) input space the decode
    gates can synthesize (dims cycle with doc_id mod 113 / mod 103 →
    the full 113×103 rectangle [16..128]×[16..118]) — no SF, however
    large, covers more of this lattice than all of it. The r10 100×
    sweep caught ONE exact-tie point ((45, 92)); this pins every
    point across all three implementations: the python spec (=
    reference np.argmin semantics), the Spark column expressions, and
    the DuckDB oracle SQL."""
    import duckdb

    from anime_data_pipeline_spark.operators.bucketing import bucket_oracle_sql

    cfg = BucketConfig()
    pairs = [(w, h) for w in range(16, 129) for h in range(16, 119)]
    resos = make_bucket_resolutions(cfg)
    exp = {
        (w, h): select_bucket_py(w, h, cfg, resos) for (w, h) in pairs
    }

    imgs = "SELECT (width * 1000 + height) AS image_key, width, height FROM lattice_in"
    con = duckdb.connect()
    con.execute("CREATE TABLE lattice_in(width INTEGER, height INTEGER)")
    con.executemany("INSERT INTO lattice_in VALUES (?, ?)", pairs)
    sql = bucket_oracle_sql(imgs, cfg)
    bad = []
    for row in con.execute(sql).fetchall():
        key, bw, bh, rw, rh = row[0], row[1], row[2], row[3], row[4]
        w, h = divmod(key, 1000)
        e = exp[(w, h)]
        if (bw, bh, rw, rh) != (
            e["bucket_w"], e["bucket_h"], e["resized_w"], e["resized_h"]
        ):
            bad.append(((w, h), (bw, bh, rw, rh), e))
    assert not bad, f"{len(bad)} oracle deviations, first: {bad[:3]}"

    df = spark.createDataFrame(pairs, "width int, height int")
    got = assign_bucket_columns(df, cfg=cfg).collect()
    bad = []
    for r in got:
        e = exp[(r["width"], r["height"])]
        if (r["bucket_w"], r["bucket_h"], r["resized_w"], r["resized_h"]) != (
            e["bucket_w"], e["bucket_h"], e["resized_w"], e["resized_h"]
        ):
            bad.append(((r["width"], r["height"]), r, e))
    assert not bad, f"{len(bad)} Spark deviations, first: {bad[:3]}"


def test_nearest_ratio_search_matches_spec_at_every_entry_and_midpoint(spark):
    """The binary-search lookup against the linear argmin spec where it
    can go wrong: at every table entry and at ±1 px around the midpoint
    between each pair of adjacent sorted ratios, at several heights
    (the midpoint is where the bracketing comparison flips)."""
    cfg = BucketConfig()
    resos = make_bucket_resolutions(cfg)
    ratios = sorted({bw / bh for bw, bh in resos})
    pairs = set(resos)
    for h in (61, 256, 777, 1024, 1536, 4099):
        for r in ratios:
            pairs.update((round(r * h) + d, h) for d in (-1, 0, 1))
        for a, b in zip(ratios, ratios[1:]):
            mid = round((a + b) / 2 * h)
            pairs.update((mid + d, h) for d in (-1, 0, 1))
    pairs = sorted(pairs)
    df = spark.createDataFrame(pairs, "width int, height int")
    bad = []
    for r in assign_bucket_columns(df, cfg=cfg).collect():
        exp = select_bucket_py(r["width"], r["height"], cfg, resos)
        if {k: r[k] for k in exp} != exp:
            bad.append(((r["width"], r["height"]), exp))
    assert not bad, f"{len(bad)} of {len(pairs)} deviate, first: {bad[:3]}"


def test_null_dimension_buckets_to_minus_one(spark):
    """A null width or height has no aspect ratio: the upscale lookup
    gives bucket (-1, -1) and a null ar_error, as the linear scan did."""
    df = spark.createDataFrame(
        [(1, None, 5), (2, 5, None), (3, None, None)], "image_key int, width int, height int"
    )
    for r in assign_bucket_columns(df, cfg=BucketConfig()).collect():
        assert (r["bucket_w"], r["bucket_h"]) == (-1, -1), r
        assert r["ar_error"] is None and r["resized_h"] is None, r
