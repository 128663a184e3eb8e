"""End-to-end EP1 pipeline test on deterministic file fixtures
(FIXTURES.md §1-§5 shapes): real sidecar .txt files, real aesthetic
JSON files, real vocab CSV — exercising the input_file_name key
derivation, wholetext reads, JSON map explode, and the composed DAG.

The oracle is a straight-Python re-execution of the reference
semantics (SURVEY §5 item 3) for a sample of rows.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.bucketing import BucketConfig, select_bucket_py
from anime_data_pipeline_spark.operators.tags import novelai_order_py
from anime_data_pipeline_spark.plans.pipeline import (
    PipelineConfig,
    bucket_report,
    run_ep1,
)
from anime_data_pipeline_spark.sources.aesthetic import read_aesthetic_scores
from anime_data_pipeline_spark.sources.images import derive_keys
from anime_data_pipeline_spark.sources.json_compat import (
    read_keyed_json,
    write_keyed_json,
)
from anime_data_pipeline_spark.sources.sidecar import read_sidecar_tags
from anime_data_pipeline_spark.sources.vocab import read_tag_vocab

N_IMAGES = 60
VOCAB = ["long hair", "short hair", "blue eyes", "smile", "1girl", "standing"]


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("ep1")
    # --- sidecar .txt files: '<rating>, tag1, tag2, ...' (run.py:58-63)
    # Reference layout: sidecars are named by image_id (img123.txt serves
    # img123_p0.jpg) — run.py:51-52 strips the page suffix before lookup.
    side = root / "sidecars"
    side.mkdir()
    for i in range(N_IMAGES):
        if i % 10 == 9:
            continue  # ~10% of images lack a sidecar
        rating = ["general", "sensitive", "questionable", "explicit"][i % 4]
        tags = [VOCAB[i % len(VOCAB)], f"char{i % 7}", " smile ", ""]
        (side / f"img{i:03d}.txt").write_text(rating + ", " + ", ".join(tags))
    # --- aesthetic JSON files: list of single-entry dicts (run.py:72-76)
    f0 = [{f"/data/img{i:03d}_p0.jpg": round(0.3 + (i % 7) * 0.1, 2)}
          for i in range(0, N_IMAGES, 2)]
    f1 = [{f"/data/img{i:03d}_p0.jpg": round(0.2 + (i % 9) * 0.1, 2)}
          for i in range(0, N_IMAGES, 3)]  # overlaps f0 → last-write-wins
    (root / "aes0.json").write_text(json.dumps(f0))
    (root / "aes1.json").write_text(json.dumps(f1))
    # --- vocab CSV (selected_tags.csv shape)
    lines = ["tag_id,name,category,count"]
    for j, name in enumerate(VOCAB):
        lines.append(f"{j},{name.replace(' ', '_')},0,{100 + j}")
    lines.append(f"{len(VOCAB)},hatsune_miku,4,999")
    (root / "vocab.csv").write_text("\n".join(lines))
    return str(root)


@pytest.fixture(scope="module")
def images_df(spark):
    rows = []
    for i in range(N_IMAGES):
        w = 384 + (i * 97) % 1400
        h = 384 + (i * 131) % 1100
        rows.append((f"/data/img{i:03d}_p0.jpg", w, h, i % 29 == 28))
    df = spark.createDataFrame(rows, "path string, width int, height int, is_corrupt boolean")
    return derive_keys(df).withColumnRenamed("path", "image_key")


def test_sidecar_source(spark, fixture_dir):
    tags = read_sidecar_tags(spark, os.path.join(fixture_dir, "sidecars"))
    rows = {r["image_stem"]: r for r in tags.collect()}
    assert len(rows) == N_IMAGES - N_IMAGES // 10
    r0 = rows["img000"]
    assert r0["image_id"] == "img000"
    assert r0["rating"] == "general"
    # trimmed, empties dropped (P3)
    assert r0["tags"] == ["long hair", "char0", "smile"]


def test_aesthetic_last_write_wins(spark, fixture_dir):
    scores = read_aesthetic_scores(
        spark,
        [os.path.join(fixture_dir, "aes0.json"), os.path.join(fixture_dir, "aes1.json")],
    )
    got = {r["image_id"]: r["score"] for r in scores.collect()}
    # img000 is in both files; file 1 (later) must win: 0.2 + 0*0.1
    assert got["img000"] == pytest.approx(0.2)
    # img002 only in file 0: 0.3 + 2*0.1
    assert got["img002"] == pytest.approx(0.5)
    # keys are unique after dedup
    assert scores.count() == scores.select("image_id").distinct().count()


def _scores(spark, files: list[str]) -> dict:
    return {r["image_id"]: r["score"] for r in read_aesthetic_scores(spark, files).collect()}


def test_aesthetic_files_are_matched_as_spark_names_them(spark, tmp_path):
    """A file's priority is its last position in the list, matched to
    the scan's ``_metadata.file_path``: an absolute path and a path
    relative to the JVM's working directory, in a directory whose name
    holds a space and a '%', a file listed twice, and names holding
    glob metacharacters, which are read as themselves."""
    d = tmp_path / "aes scores%20"
    d.mkdir()
    (d / "a.json").write_text(json.dumps([{"/x/img1_p0.jpg": 0.1}, {"/x/img2_p0.jpg": 0.2}]))
    (d / "b.json").write_text(json.dumps([{"/x/img1_p1.jpg": 0.8}]))
    a = str(d / "a.json")
    b = os.path.relpath(d / "b.json", spark._jvm.System.getProperty("user.dir"))
    assert _scores(spark, [a, b]) == {"img1": 0.8, "img2": 0.2}
    assert _scores(spark, [b, a]) == {"img1": 0.1, "img2": 0.2}
    assert _scores(spark, [a, b, a]) == {"img1": 0.1, "img2": 0.2}
    (d / "a[1]{x}?.json").write_text(json.dumps([{"/x/img1_p2.jpg": 0.5}]))
    (d / "*.json").write_text(json.dumps([{"/x/img3_p0.jpg": 0.3}]))
    odd = os.path.relpath(d / "a[1]{x}?.json", spark._jvm.System.getProperty("user.dir"))
    assert _scores(spark, [a, odd]) == {"img1": 0.5, "img2": 0.2}
    assert _scores(spark, [odd, a]) == {"img1": 0.1, "img2": 0.2}
    # "*.json" names one file, not every file in the directory
    assert _scores(spark, [str(d / "*.json")]) == {"img3": 0.3}
    # a listed directory scans its files, whose priority is unknown
    with pytest.raises(Exception, match="not in the list"):
        _scores(spark, [str(d)])


def test_aesthetic_later_key_in_one_object_wins(spark, tmp_path):
    """Two keys of one JSON object that normalise to one image_id: the
    later key wins, as in the reference's dict rebuild."""
    p = tmp_path / "multi.json"
    p.write_text(json.dumps([
        {"/x/img1_p0.jpg": 0.3, "/x/img1_p1.jpg": 0.6},
        {"/x/img2_p1.jpg": 0.4, "/x/img2_p0.jpg": 0.1},
    ]))
    assert _scores(spark, [str(p)]) == {"img1": 0.6, "img2": 0.1}


def test_ep1_drops_rows_without_positive_dims(spark, fixture_dir, images_df):
    """Rows with a zero, negative or null side leave the output (a zero
    side used to fail the run with DIVIDE_BY_ZERO, a null one to write
    bucket (-1, -1)), and so do rows whose resized size overflows an
    int (a 2^31-1 side against 1 used to fail it with CAST_OVERFLOW),
    on the upscale and the no-upscale path. The cut is exact: on either
    side of each path's overflow boundary a row stays exactly when the
    reference's resized size fits an int, with the reference's values;
    every other row is unchanged."""
    big, lim = 2**31 - 1, 2**31 - 1
    dims = [(5, 0), (0, 5), (None, 7), (7, None), (-3, 9), (0, 0)]
    huge = [(big, 1), (1, big), (big, big)] + [
        d for w in (2**23 - 1, 2**23, 2**25 - 1, 2**25) for d in ((w, 1), (1, w))
    ]

    def images(dims, first):
        return derive_keys(spark.createDataFrame(
            [(f"/data/img{first + i:03d}_p9.jpg", w, h, False) for i, (w, h) in enumerate(dims)],
            "path string, width int, height int, is_corrupt boolean",
        )).withColumnRenamed("path", "image_key")

    sidecars = read_sidecar_tags(spark, os.path.join(fixture_dir, "sidecars"))
    for no_upscale in (False, True):
        cfg = PipelineConfig(bucket=BucketConfig(no_upscale=no_upscale))

        def rows(images):
            meta, _ = run_ep1(images, sidecars, None, VOCAB, cfg)
            return {r["image_key"]: r.asDict(recursive=True) for r in meta.collect()}

        assert rows(images_df.unionByName(images(dims, 0))) == rows(images_df)
        got = rows(images(huge, 900))
        expected = {}
        for i, (w, h) in enumerate(huge):
            e = select_bucket_py(w, h, cfg.bucket)
            if max(e["resized_w"], e["resized_h"]) <= lim:
                expected[f"/data/img{900 + i:03d}_p9.jpg"] = (
                    {"w": e["resized_w"], "h": e["resized_h"]},
                    {"w": e["bucket_w"], "h": e["bucket_h"]},
                )
        assert 0 < len(expected) < len(huge)
        assert {k: (r["resized_size"], r["bucket_reso"]) for k, r in got.items()} == expected


def test_ep1_end_to_end(spark, fixture_dir, images_df):
    sidecars = read_sidecar_tags(spark, os.path.join(fixture_dir, "sidecars"))
    scores = read_aesthetic_scores(
        spark,
        [os.path.join(fixture_dir, "aes0.json"), os.path.join(fixture_dir, "aes1.json")],
    )
    vocab = read_tag_vocab(spark, os.path.join(fixture_dir, "vocab.csv"))
    vocab_names = [
        r["name"].replace("_", " ")
        for r in vocab.filter(F.col("category") == 0).collect()
    ]
    meta, audit = run_ep1(images_df, sidecars, scores, vocab_names, PipelineConfig())
    out = {r["image_key"]: r.asDict(recursive=True) for r in meta.collect()}

    # corrupt rows dropped before anything else
    assert "/data/img028_p0.jpg" not in out
    # unscored images dropped by the inner-join-equivalent filter
    assert all("/data/img%03d_p0.jpg" % i not in out for i in (1, 5, 7))
    # audit counters present and consistent
    a = audit.collect()[0]
    assert a["total_seen"] == a["total_error"] + a["below_threshold"] + len(out)

    # spot-check one row against the straight-Python reference semantics
    key = sorted(out)[0]
    row = out[key]
    i = int(key.split("img")[1][:3])
    w, h = 384 + (i * 97) % 1400, 384 + (i * 131) % 1100
    ref = select_bucket_py(w, h, BucketConfig())
    assert (row["bucket_reso"]["w"], row["bucket_reso"]["h"]) == (
        ref["bucket_w"],
        ref["bucket_h"],
    )
    # train_resolution derives from the selected bucket reso
    # (bucket_manager.py:196), not the original image size
    assert row["train_resolution"] == {
        "w": ref["bucket_w"] - ref["bucket_w"] % 8,
        "h": ref["bucket_h"] - ref["bucket_h"] % 8,
    }
    # every kept row's ordering matches the Python spec
    for key, r in out.items():
        assert r["ordered_tags"] == novelai_order_py(r["tags"] or [], set(vocab_names)), key

    # bucket report aggregates to the full kept count
    rep = bucket_report(meta)
    assert sum(r["n_images"] for r in rep.collect()) == len(out)


def test_keyed_json_roundtrip(spark, tmp_path, fixture_dir, images_df):
    sidecars = read_sidecar_tags(spark, os.path.join(fixture_dir, "sidecars"))
    meta, _ = run_ep1(images_df, sidecars, None, VOCAB,
                      PipelineConfig())
    out_dir = str(tmp_path / "meta_json")
    write_keyed_json(meta.select("image_key", "rating", "ordered_tags"),
                     "image_key", out_dir)
    part = next(p for p in os.listdir(out_dir) if p.startswith("part-"))
    payload = json.loads(open(os.path.join(out_dir, part)).read())
    assert len(payload) == meta.count()
    assert all(k.startswith("/data/img") for k in payload)

    # read the dict-keyed shape back as rows (S5)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("rating", T.StringType()),
            T.StructField("ordered_tags", T.StringType()),
        ]
    )
    back = read_keyed_json(spark, os.path.join(out_dir, part), schema)
    assert back.count() == meta.count()
    joined = back.join(
        meta.select("image_key", F.col("ordered_tags").alias("expect")), "image_key"
    )
    assert joined.filter(
        ~(F.col("ordered_tags").eqNullSafe(F.col("expect")))
    ).count() == 0


def test_keyed_json_escaping(spark, tmp_path):
    """Keys/values with quotes, backslashes, newlines, unicode must
    survive the keyed-JSON round trip (escaping rides on to_json)."""
    rows = [
        ('/data/we"ird".jpg', 'va"l'),
        ("/data/back\\slash.jpg", "v\\2"),
        ("/data/uni—código.jpg", "café"),
        ("/data/tab\there.jpg", "line1\nline2"),
    ]
    df = spark.createDataFrame(rows, "image_key string, val string")
    out = str(tmp_path / "esc")
    write_keyed_json(df, "image_key", out)
    part = next(p for p in os.listdir(out) if p.startswith("part-"))
    payload = json.loads(open(os.path.join(out, part)).read())
    assert payload == {k: {"val": v} for k, v in rows}
