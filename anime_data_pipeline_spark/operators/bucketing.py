"""Aspect-ratio bucketing as native Spark column expressions.

Re-expresses the reference's core domain operator family (SURVEY §2.8,
B1-B5; behavior studied from /root/reference/dataruu/bucketing/
bucket_manager.py) Spark-first:

- B1 ``make_bucket_resolutions`` (bucket_manager.py:8-27) runs on the
  driver — it yields ~40 rows, rendered into the lookup expression as
  literals.
- B2/B3 ``select_bucket`` (bucket_manager.py:99-159) becomes a pure
  column-expression projection: per-row math with NO join, NO shuffle,
  NO UDF. The 1-NN aspect-ratio search (np.argmin at
  bucket_manager.py:108-109) is one parsed ``CASE``: an ``InSet`` probe
  for an exact size, then a binary search over the sorted ratios that
  compares the two bracketing entries (``_bucket_lookup_sql``). It has
  no higher-order function, so whole-stage codegen compiles it, and at
  100 TB it scales embarrassingly (map-only).
- B4 ``get_crop_ltrb`` (bucket_manager.py:161-179) is likewise a
  projection.
- B5 bucket ids: the reference assigns ids on first sight
  (bucket_manager.py:87-93, order-dependent) — distributed engines
  need a deterministic rule, so ids follow the sorted-reso order the
  reference itself settles on after ``sort()`` (bucket_manager.py:61-75).

Tie-breaking parity notes:
- np.argmin returns the FIRST minimal index; the lookup's final
  comparison keeps the entry with the lower table index on ties
  (strict ``<``), over the same sorted reso order.
- ``int(x + 0.5)`` on positive floats == ``floor(x + 0.5)``.
- All arithmetic is IEEE double / integer ops, bit-identical across
  engines; the DuckDB oracle (``bucket_oracle_sql``) embeds the exact
  same literals.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class BucketConfig:
    """Bucketing geometry (defaults = the reference CLI defaults,
    dataruu/run.py:19-22)."""

    no_upscale: bool = False
    max_width: int = 1024
    max_height: int = 1024
    min_size: int = 256
    max_size: int = 2048
    reso_steps: int = 64

    @property
    def max_area(self) -> int:
        return self.max_width * self.max_height


def make_bucket_resolutions(cfg: BucketConfig) -> list[tuple[int, int]]:
    """Enumerate predefined bucket resolutions (behavior of
    bucket_manager.py:8-27): the max-area square plus every
    (w, h)/(h, w) pair with sides in [min_size, max_size], multiples of
    ``reso_steps``, area ≤ max_area. Driver-side: ≤ ~100 rows."""
    area = cfg.max_area
    div = cfg.reso_steps
    out: set[tuple[int, int]] = set()

    side = int(math.sqrt(area) // div) * div
    out.add((side, side))

    w = cfg.min_size
    while w <= cfg.max_size:
        h = min(cfg.max_size, int((area // w) // div) * div)
        if h >= cfg.min_size:
            out.add((w, h))
            out.add((h, w))
        w += div
    return sorted(out)


# ---------------------------------------------------------------------------
# Pure-Python executable spec — the oracle for golden tests. Same math as
# the column expressions below; kept deliberately simple and readable.
# ---------------------------------------------------------------------------
def select_bucket_py(
    width: int, height: int, cfg: BucketConfig, resos: list[tuple[int, int]] | None = None
) -> dict:
    """Reference-semantics bucket assignment for one (width, height).

    Returns bucket reso, resized size, signed ar_error and the 8-multiple
    train resolution (bucket_manager.py:99-159,196).
    """
    resos = resos if resos is not None else make_bucket_resolutions(cfg)
    ar = width / height

    def round_steps(x: float) -> int:
        # Clamped to one step: inputs smaller than reso_steps would
        # otherwise floor to a 0-sized bucket (division by zero — the
        # reference crashes identically on such degenerate images;
        # documented robustness divergence).
        r = int(x + 0.5)
        return max(cfg.reso_steps, r - r % cfg.reso_steps)

    if not cfg.no_upscale:
        if (width, height) in set(resos):
            reso = (width, height)
        else:
            best_i, best_err = 0, None
            for i, (bw, bh) in enumerate(resos):
                err = abs(bw / bh - ar)
                if best_err is None or err < best_err:
                    best_i, best_err = i, err
            reso = resos[best_i]
        ar_reso = reso[0] / reso[1]
        scale = reso[1] / height if ar > ar_reso else reso[0] / width
        resized = (int(width * scale + 0.5), int(height * scale + 0.5))
    else:
        if width * height > cfg.max_area:
            rw = math.sqrt(cfg.max_area * ar)
            rh = cfg.max_area / rw
            bwr = round_steps(rw)
            bh_in_wr = round_steps(bwr / ar)
            ar_wr = bwr / bh_in_wr
            bhr = round_steps(rh)
            bw_in_hr = round_steps(bhr * ar)
            ar_hr = bw_in_hr / bhr
            if abs(ar_wr - ar) < abs(ar_hr - ar):
                resized = (bwr, int(bwr / ar + 0.5))
            else:
                resized = (int(bhr * ar + 0.5), bhr)
        else:
            resized = (width, height)
        reso = (
            max(cfg.reso_steps, resized[0] - resized[0] % cfg.reso_steps),
            max(cfg.reso_steps, resized[1] - resized[1] % cfg.reso_steps),
        )

    return {
        "bucket_w": reso[0],
        "bucket_h": reso[1],
        "resized_w": resized[0],
        "resized_h": resized[1],
        "ar_error": reso[0] / reso[1] - ar,
        "train_w": reso[0] - reso[0] % 8,
        "train_h": reso[1] - reso[1] % 8,
    }


def crop_ltrb_py(bucket_w: int, bucket_h: int, img_w: int, img_h: int) -> tuple:
    """Center-crop box, Stability-AI-compatible (bucket_manager.py:161-179)."""
    bucket_ar = bucket_w / bucket_h
    image_ar = img_w / img_h
    if bucket_ar > image_ar:
        rw, rh = bucket_h * image_ar, float(bucket_h)
    else:
        rw, rh = float(bucket_w), bucket_w / image_ar
    left = (bucket_w - rw) // 2
    top = (bucket_h - rh) // 2
    return left, top, left + rw, top + rh


# ---------------------------------------------------------------------------
# Spark column expressions
# ---------------------------------------------------------------------------
def _sql_name(col: str) -> str:
    return "`" + col.replace("`", "``") + "`"


def _round_steps(x: Column, steps: int) -> Column:
    # Clamped to one step (see select_bucket_py.round_steps).
    r = F.floor(x + F.lit(0.5))
    return F.greatest(F.lit(steps), r - r % F.lit(steps))


def _ratio_table(resos: list[tuple[int, int]]) -> list[tuple[float, int]]:
    """[(ratio, lowest table index)] of the distinct ratios, by ratio."""
    first: dict[float, int] = {}
    for i, (bw, bh) in enumerate(resos):
        first.setdefault(bw / bh, i)
    return sorted(first.items())


def _bucket_lookup_sql(w: str, h: str, ar: str, cfg: BucketConfig) -> str:
    """One SQL expression for the upscale path's bucket (B2/B3) of the
    SQL names ``w``, ``h`` and their double ratio ``ar``: a
    ``struct<w int, h int>`` per row, ``(-1, -1)`` for a null dimension.

    An exact-size hit is ``(w, h) IN (<table>)`` (an ``InSet``). Any
    other size gets the first table entry nearest in aspect ratio
    (np.argmin): a binary-search ``CASE`` over the distinct ratios in
    ascending order, each kept with its lowest table index, that ends by
    comparing the two ratios bracketing ``ar`` with the strict
    ``abs(r_j - ar) < abs(r_i - ar)`` test (``i`` the lower index, so
    ties go to it). Floating ``ar - r`` is monotone in ``r``, so no
    entry beyond a bracketing one can be nearer, and none can tie with
    it while the ratios are further apart than the rounding error of
    ``ar - r`` (about 1e-15 * |ar|; 0.008 apart against |ar| < 2^31 for
    the default table and int dimensions)."""
    resos = make_bucket_resolutions(cfg)
    table = _ratio_table(resos)

    def entry(i: int) -> str:
        return f"named_struct('w', {resos[i][0]}, 'h', {resos[i][1]})"

    def nearer(k: int) -> str:  # the bracketing pair table[k], table[k + 1]
        (ra, ia), (rb, ib) = sorted((table[k], table[k + 1]), key=lambda t: t[1])
        return (
            f"CASE WHEN abs({rb!r}D - {ar}) < abs({ra!r}D - {ar}) "
            f"THEN {entry(ib)} ELSE {entry(ia)} END"
        )

    def search(lo: int, hi: int) -> str:  # pair k in [lo, hi] brackets ar
        if lo == hi:
            return nearer(lo)
        mid = (lo + hi + 1) // 2
        return (
            f"CASE WHEN {ar} < {table[mid][0]!r}D "
            f"THEN {search(lo, mid - 1)} ELSE {search(mid, hi)} END"
        )

    nearest = entry(table[0][1]) if len(table) == 1 else search(0, len(table) - 2)
    pairs = ", ".join(f"({bw}, {bh})" for bw, bh in resos)
    return (
        f"CASE WHEN ({w}, {h}) IN ({pairs}) "
        f"THEN named_struct('w', CAST({w} AS INT), 'h', CAST({h} AS INT)) "
        f"WHEN {ar} IS NULL THEN named_struct('w', -1, 'h', -1) "
        f"ELSE {nearest} END"
    )


def assign_bucket_columns(df: DataFrame, cfg: BucketConfig) -> DataFrame:
    """Append bucket_w/bucket_h/resized_w/resized_h/ar_error/train_w/train_h
    from the ``width`` and ``height`` columns.

    Map-only: scales linearly with the scan; no shuffle, no UDF and no
    higher-order function. The upscale path is three parsed projections
    that whole-stage codegen compiles: the ratio ``_ar``, the table
    lookup (``_bucket_lookup_sql``: an ``InSet`` probe plus about six
    comparisons per row), then the derived sizes. The lookup names
    ``_ar`` some 120 times; as a column (which CollapseProject does not
    inline into a multi-reference) it keeps small the expression that
    every execution re-optimizes and re-generates.
    """
    if not cfg.no_upscale:
        bw, bh = "_bucket.w", "_bucket.h"
        resized_w, resized_h = _upscale_resized_sql("width", "height", bw, bh, "_ar")
        lookup = _bucket_lookup_sql("width", "height", "_ar", cfg)
        return (
            df.selectExpr("*", "CAST(width AS DOUBLE) / CAST(height AS DOUBLE) AS _ar")
            .selectExpr("*", f"{lookup} AS _bucket")
            .selectExpr(
                *map(_sql_name, df.columns),
                f"{bw} AS bucket_w",
                f"{bh} AS bucket_h",
                f"CAST({resized_w} AS INT) AS resized_w",
                f"CAST({resized_h} AS INT) AS resized_h",
                f"CAST({bw} AS DOUBLE) / CAST({bh} AS DOUBLE) - _ar AS ar_error",
                f"{bw} - {bw} % 8 AS train_w",
                f"{bh} - {bh} % 8 AS train_h",
            )
        )

    resized_w, resized_h = _no_upscale_resized(cfg)
    steps = cfg.reso_steps
    out = df.withColumn("resized_w", resized_w.cast("int")).withColumn(
        "resized_h", resized_h.cast("int")
    )
    out = out.withColumn(
        "bucket_w",
        F.greatest(
            F.lit(steps), F.col("resized_w") - F.col("resized_w") % steps
        ).cast("int"),
    ).withColumn(
        "bucket_h",
        F.greatest(
            F.lit(steps), F.col("resized_h") - F.col("resized_h") % steps
        ).cast("int"),
    )

    ar = F.col("width").cast("double") / F.col("height").cast("double")
    return (
        out.withColumn(
            "ar_error",
            F.col("bucket_w").cast("double") / F.col("bucket_h").cast("double") - ar,
        )
        .withColumn("train_w", (F.col("bucket_w") - F.col("bucket_w") % 8).cast("int"))
        .withColumn("train_h", (F.col("bucket_h") - F.col("bucket_h") % 8).cast("int"))
    )


def _upscale_resized_sql(w: str, h: str, bw: str, bh: str, ar: str) -> tuple[str, str]:
    """The upscale path's resized (w, h) as bigint SQL, before the cast
    to int: the SQL names ``w``, ``h`` (ratio ``ar``) scaled to cover
    the bucket ``bw`` x ``bh``."""
    scale = (
        f"CASE WHEN {ar} > CAST({bw} AS DOUBLE) / CAST({bh} AS DOUBLE) "
        f"THEN {bh} / CAST({h} AS DOUBLE) ELSE {bw} / CAST({w} AS DOUBLE) END"
    )
    return (
        f"floor(CAST({w} AS DOUBLE) * {scale} + 0.5D)",
        f"floor(CAST({h} AS DOUBLE) * {scale} + 0.5D)",
    )


def _no_upscale_resized(cfg: BucketConfig) -> tuple[Column, Column]:
    """The no-upscale path's resized (w, h) of the ``width`` and
    ``height`` columns as bigint, before the cast to int."""
    w = F.col("width").cast("double")
    h = F.col("height").cast("double")
    ar = w / h
    steps = cfg.reso_steps
    area_over = (F.col("width").cast("long") * F.col("height").cast("long")) > F.lit(
        cfg.max_area
    )
    rw = F.sqrt(F.lit(float(cfg.max_area)) * ar)
    rh = F.lit(float(cfg.max_area)) / rw
    bwr = _round_steps(rw, steps)
    bh_in_wr = _round_steps(bwr / ar, steps)
    ar_wr = bwr / bh_in_wr
    bhr = _round_steps(rh, steps)
    bw_in_hr = _round_steps(bhr * ar, steps)
    ar_hr = bw_in_hr / bhr
    use_wr = F.abs(ar_wr - ar) < F.abs(ar_hr - ar)
    resized_w = F.when(
        area_over,
        F.when(use_wr, bwr).otherwise(F.floor(bhr * ar + F.lit(0.5))),
    ).otherwise(F.col("width"))
    resized_h = F.when(
        area_over,
        F.when(use_wr, F.floor(bwr / ar + F.lit(0.5))).otherwise(bhr),
    ).otherwise(F.col("height"))
    return resized_w, resized_h


_INT_MAX = 2**31 - 1


def bucketable(cfg: BucketConfig) -> Column:
    """True for the rows :func:`assign_bucket_columns` can place in
    the ``width`` and ``height`` columns: a positive width and height
    whose resized size fits an int. False otherwise, where a zero side
    divides by zero and an oversized resized side overflows the int
    cast, either of which raises under ANSI and fails the whole job.

    No-upscale: the resized size itself, before the cast. Upscale: only
    a ratio beyond the table's range can overflow (the nearest bucket's
    scale keeps any ratio inside it within the largest bucket side
    times the largest ratio), and there the bucket is the extreme entry
    of ``_bucket_lookup_sql``, so its resized size is
    ``_upscale_resized_sql`` of that entry's literals — the arithmetic
    of the lookup path, with no lookup."""
    if cfg.no_upscale:
        rw, rh = _no_upscale_resized(cfg)
        positive = (F.col("width") > 0) & (F.col("height") > 0)
        return F.when(positive, (rw <= _INT_MAX) & (rh <= _INT_MAX)).otherwise(False)
    resos = make_bucket_resolutions(cfg)
    table = _ratio_table(resos)
    ar = "CAST(width AS DOUBLE) / CAST(height AS DOUBLE)"

    def fits(i: int) -> str:  # the resized size under table entry i
        rw, rh = _upscale_resized_sql("width", "height", *map(str, resos[i]), ar)
        return f"{rw} <= {_INT_MAX} AND {rh} <= {_INT_MAX}"

    (r_min, i_min), (r_max, i_max) = table[0], table[-1]
    return F.expr(
        "CASE WHEN width > 0 AND height > 0 THEN "
        f"CASE WHEN {ar} > {r_max!r}D THEN {fits(i_max)} "
        f"WHEN {ar} < {r_min!r}D THEN {fits(i_min)} "
        "ELSE true END ELSE false END"
    )


def crop_ltrb_columns(df: DataFrame) -> DataFrame:
    """Append crop_left/crop_top/crop_right/crop_bottom (B4) from the
    ``bucket_w``, ``bucket_h``, ``width`` and ``height`` columns."""
    bw = F.col("bucket_w").cast("double")
    bh = F.col("bucket_h").cast("double")
    image_ar = F.col("width").cast("double") / F.col("height").cast("double")
    bucket_ar = bw / bh
    rw = F.when(bucket_ar > image_ar, bh * image_ar).otherwise(bw)
    rh = F.when(bucket_ar > image_ar, bh).otherwise(bw / image_ar)
    left = F.floor((bw - rw) / 2).cast("double")
    top = F.floor((bh - rh) / 2).cast("double")
    return (
        df.withColumn("crop_left", left)
        .withColumn("crop_top", top)
        .withColumn("crop_right", left + rw)
        .withColumn("crop_bottom", top + rh)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle generator: the same math as ANSI-ish SQL, with the same
# reso literals, for the driver's correctness gate.
# ---------------------------------------------------------------------------
def bucket_oracle_sql(imgs_select: str, cfg: BucketConfig | None = None) -> str:
    """Build DuckDB SQL computing bucket assignment for ``imgs_select``
    (a SELECT yielding image_key, width, height) under ``cfg``.

    Upscale path only (the reference's primary path); the no-upscale
    oracle is generated by ``bucket_noupscale_oracle_sql``.
    """
    cfg = cfg or BucketConfig()
    resos = make_bucket_resolutions(cfg)
    # The CAST forces DOUBLE: a bare float literal in a VALUES
    # table types as DECIMAL(18,17) in DuckDB, which makes
    # abs(bar - ar) non-double arithmetic. Found at the 100x tier in
    # r10: (w,h)=(45,92) ties EXACTLY between 704x1408 and 704x1472
    # (both errors are 1/92 in rationals, and equal as IEEE doubles),
    # so the reference semantics (np.argmin over doubles — first
    # minimum in reso order, bucket_manager.py:205-207) pick 704x1408;
    # the DECIMAL path computed unequal errors and silently flipped
    # the tie to 704x1472. Gate-SF doc_ids never produce the tie, so
    # only the stress sweep caught it.
    values = ",\n      ".join(
        f"({i}, {bw}, {bh}, CAST({bw / bh!r} AS DOUBLE))"
        for i, (bw, bh) in enumerate(resos)
    )
    return f"""
    WITH imgs AS ({imgs_select}),
    resos(idx, bw, bh, bar) AS (VALUES
      {values}
    ),
    cand AS (
      SELECT i.image_key, i.width, i.height, r.bw, r.bh,
             row_number() OVER (
               PARTITION BY i.image_key
               ORDER BY (CASE WHEN r.bw = i.width AND r.bh = i.height THEN 0 ELSE 1 END),
                        abs(r.bar - i.width / CAST(i.height AS DOUBLE)),
                        r.idx
             ) AS rn
      FROM imgs i CROSS JOIN resos r
    ),
    chosen AS (
      SELECT image_key, width, height, bw, bh,
             width / CAST(height AS DOUBLE) AS ar,
             CAST(bw AS DOUBLE) / bh        AS ar_reso
      FROM cand WHERE rn = 1
    )
    SELECT image_key,
           CAST(bw AS INTEGER) AS bucket_w,
           CAST(bh AS INTEGER) AS bucket_h,
           CAST(floor(width  * (CASE WHEN ar > ar_reso THEN bh / CAST(height AS DOUBLE)
                                     ELSE bw / CAST(width AS DOUBLE) END) + 0.5) AS INTEGER) AS resized_w,
           CAST(floor(height * (CASE WHEN ar > ar_reso THEN bh / CAST(height AS DOUBLE)
                                     ELSE bw / CAST(width AS DOUBLE) END) + 0.5) AS INTEGER) AS resized_h,
           ar_reso - ar AS ar_error,
           CAST(bw - bw % 8 AS INTEGER) AS train_w,
           CAST(bh - bh % 8 AS INTEGER) AS train_h
    FROM chosen
    """


def bucket_noupscale_oracle_sql(imgs_select: str, cfg: BucketConfig | None = None) -> str:
    """DuckDB SQL for the no-upscale path (bucket_manager.py:120-154)."""
    cfg = cfg or BucketConfig(no_upscale=True)
    steps = cfg.reso_steps
    area = cfg.max_area

    def rsteps(x: str) -> str:
        # Clamped to one step (see select_bucket_py.round_steps).
        return (
            f"greatest({steps}, floor(({x}) + 0.5) "
            f"- CAST(floor(({x}) + 0.5) AS BIGINT) % {steps})"
        )

    return f"""
    WITH imgs AS ({imgs_select}),
    base AS (
      SELECT image_key, width, height,
             width / CAST(height AS DOUBLE) AS ar,
             CAST(width AS BIGINT) * height > {area} AS over
      FROM imgs
    ),
    rounded AS (
      SELECT *, sqrt({area} * ar) AS rw, {area} / sqrt({area} * ar) AS rh FROM base
    ),
    sides AS (
      SELECT *,
             {rsteps("rw")} AS bwr,
             {rsteps("rh")} AS bhr
      FROM rounded
    ),
    oriented AS (
      SELECT *,
             abs(bwr / {rsteps("bwr / ar")} - ar) AS err_wr,
             abs({rsteps("bhr * ar")} / bhr - ar) AS err_hr
      FROM sides
    ),
    resized AS (
      SELECT image_key, width, height, ar,
             CAST(CASE WHEN NOT over THEN width
                       WHEN err_wr < err_hr THEN bwr
                       ELSE floor(bhr * ar + 0.5) END AS INTEGER) AS resized_w,
             CAST(CASE WHEN NOT over THEN height
                       WHEN err_wr < err_hr THEN floor(bwr / ar + 0.5)
                       ELSE bhr END AS INTEGER) AS resized_h
      FROM oriented
    )
    , floored AS (
      SELECT *,
             greatest({steps}, resized_w - resized_w % {steps}) AS bw,
             greatest({steps}, resized_h - resized_h % {steps}) AS bh
      FROM resized
    )
    SELECT image_key,
           CAST(bw AS INTEGER) AS bucket_w,
           CAST(bh AS INTEGER) AS bucket_h,
           resized_w, resized_h,
           CAST(bw AS DOUBLE) / bh - ar AS ar_error,
           CAST(bw - bw % 8 AS INTEGER) AS train_w,
           CAST(bh - bh % 8 AS INTEGER) AS train_h
    FROM floored
    """
