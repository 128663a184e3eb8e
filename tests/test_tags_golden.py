"""Golden tests: Spark tag expressions == pure-Python executable specs."""

from __future__ import annotations

from pyspark.sql import functions as F

from anime_data_pipeline_spark.operators.tags import (
    clean_caption_py,
    clean_caption_udf,
    clean_tags_df,
    clean_tags_py,
    novelai_order_df,
    novelai_order_py,
    sql_str,
)

VOCAB = {"long hair", "smile", "blue eyes", "open mouth", "hair ornament"}

ORDER_CASES = [
    ["1girl", "hatsune miku", "long hair", "smile", "4k x 4k", "aspect ratio",
     "very long name char"],
    ["tall boy", "short girl", "smile"],
    ["unknown character", "smile", "smile", "1girl"],  # dup
    ["with:colon", "resolution test", "plainchar"],
    [],
    ["onlychar"],
]

# Untrusted names: quotes, backslashes, commas, non-ASCII and stray
# spaces in both the vocab and the tags. Every vocab name also appears
# as a tag, so a mis-escaped literal shows as a mis-classified tag.
HOSTILE_VOCAB = {"o'neil", "back\\slash", "trailing\\", "a,b", "café", " pad ", "'",
                 "\\'", "smile"}
HOSTILE_CASES = [
    ["o'neil", "back\\slash", "trailing\\", "a,b", "café", " pad ", "'", "\\'"],
    ["o'neil girl", "naïve char", "pad", "smile", "cafe", "back\\slash char"],
    [",leading", "trailing,", "1girl,", ",", "a,b", "kanji 初音ミク"],
    ["smile", "smile", "o'neil", "o'neil", "café", "café"],  # duplicates
    ["dup char", "1girl", "dup char", "1girl"],
    [None, "smile", None, "o'neil"],  # null elements drop
    [None],
    [],
    None,  # null array orders as empty
]


CLEAN_CASES = [
    ["1girl", "long_hair", "blue_eyes", "^_^"],
    ["2girls", "long hair", "short hair", "blue eyes", "red eyes", "twintails",
     "ponytail"],
    ["2girls", "long hair", "blonde hair", "brown hair"],
    ["1boy", "hair", "red hair"],
    ["hair ornament", "red hair ornament"],
    ["blue-grey hair", "hair"],
    ["1girl", "rating safe", "extra tag"],
    ["rating_explicit", "1girl", "smile"],  # rating FIRST tag survives
    ["rating safe", "foo", "rating explicit", "bar"],  # truncate at 2nd
    ["multiple boys", "long sleeves", "short sleeves", "sleeveless"],
    ["2girls", "bob cut", "hime cut", "single hair bun"],
    ["solo", "white dress", "dress"],
    [],
]

CAPTION_CASES = [
    "young young woman holding a cartoon drawing",
    "anime anime anime girl with anime woman",
    "cartoon women and young people",
    "a cartoon anime drawing of a person",
    "nothing to replace here",
    "lady lady lady",
]


def _order_both_vocab_forms(spark, cases, vocab):
    """Order ``cases`` once with a names list and once with a Column
    vocab; both must equal the spec (nulls dropped, null array = [])."""
    df = spark.createDataFrame(list(enumerate(cases)), "id int, tags array<string>")
    names = sorted(vocab)
    for v in (names, F.array(*[F.lit(n) for n in names]).cast("array<string>")):
        got = {
            r["id"]: r["ordered"]
            for r in novelai_order_df(df, F.col("tags"), v, out="ordered")
            .select("id", "ordered").collect()
        }
        for i, tags in enumerate(cases):
            want = novelai_order_py([t for t in tags or [] if t is not None], set(vocab))
            assert got[i] == want, (type(v).__name__, tags)


def test_novelai_order_matches_spec(spark):
    _order_both_vocab_forms(spark, ORDER_CASES, VOCAB)


def test_novelai_order_hostile_names_match_spec(spark):
    _order_both_vocab_forms(spark, HOSTILE_CASES, HOSTILE_VOCAB)


def test_novelai_order_empty_vocab_matches_spec(spark):
    _order_both_vocab_forms(spark, ORDER_CASES + HOSTILE_CASES, set())


def test_sql_str_round_trips_through_the_parser(spark):
    names = sorted(HOSTILE_VOCAB) + ["", "\\\\", "''", "\\n", "tab\there", "line\nbreak"]
    row = spark.range(1).select(
        *[F.expr(sql_str(n)).alias(f"c{i}") for i, n in enumerate(names)]
    ).first()
    assert list(row) == names


def test_clean_tags_matches_spec(spark):
    rows = [(i, tags) for i, tags in enumerate(CLEAN_CASES)]
    df = spark.createDataFrame(rows, "id int, tags array<string>")
    got = {
        r["id"]: r["cleaned"]
        for r in clean_tags_df(df, F.col("tags"), out="cleaned").select("id", "cleaned").collect()
    }
    for i, tags in enumerate(CLEAN_CASES):
        assert got[i] == clean_tags_py(tags), tags


def test_clean_tags_spec_semantics():
    assert clean_tags_py(["2girls", "long hair", "short hair", "blue eyes", "red eyes",
                          "twintails", "ponytail"]) == ["2girls"]
    assert clean_tags_py(["2girls", "long hair", "blonde hair", "brown hair"]) == [
        "2girls", "long hair"]
    assert clean_tags_py(["1boy", "hair", "red hair"]) == ["1boy", "red hair"]
    assert clean_tags_py(["blue-grey hair", "hair"]) == ["blue-grey hair", "hair"]
    assert clean_tags_py(["1girl", "rating safe", "extra tag"]) == ["1girl"]
    assert clean_tags_py(["hair ornament", "red hair ornament"]) == ["red hair ornament"]
    # the reference splits on ', rating' — a rating FIRST tag never
    # truncates (merge_all_to_metadata.py:63), later ones still do
    assert clean_tags_py(["rating_explicit", "1girl", "smile"]) == [
        "rating explicit", "1girl", "smile"]
    assert clean_tags_py(["rating safe", "foo", "rating explicit", "bar"]) == [
        "rating safe", "foo"]


def test_clean_caption_fixpoint(spark):
    df = spark.createDataFrame([(i, c) for i, c in enumerate(CAPTION_CASES)],
                               "id int, caption string")
    got = {
        r["id"]: r["cleaned"]
        for r in df.select("id", clean_caption_udf(F.col("caption")).alias("cleaned")).collect()
    }
    for i, c in enumerate(CAPTION_CASES):
        assert got[i] == clean_caption_py(c), c
    # fixpoint chains resolve fully
    assert clean_caption_py("young young woman") == "girl"
    assert clean_caption_py("anime anime anime girl") == "girl"
