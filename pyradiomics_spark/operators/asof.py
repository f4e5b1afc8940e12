"""Point-in-time (as-of) join — the engine's core temporal operator
(north_rule; SURVEY.md §2.3 row "As-of join").

For each left row (entity, ts) attach the latest right row with
right_ts <= ts (direction='backward'), never a future row — zero temporal
leakage by construction.

One physical strategy — **union + window**, 100% JVM-side:
tag and union both sides on a common schema, with the whole right row
(payload + right ts) packed into ONE struct column (NULL on left rows);
then one ``last(struct, ignoreNulls) over (partition by key order by ts,
tag rows unbounded preceding .. current row)`` (``first`` over the future
frame for 'forward', both for 'nearest'), keep left rows and expand the
struct. The plan holds one window expression per direction whatever the
payload width, and a matched right row's NULL payload value stays NULL (a
per-column ``last(ignoreNulls)`` would fill it from an OLDER row while
``right_ts`` points at the matched one). One shuffle for the window
partitioning (plus one map-side-combined exchange for the deterministic
tie dedupe, skippable via ``deterministic_ties=False``), whole-stage
codegen, no Python. Tie discipline: right rows sort BEFORE left rows at
equal ts when ``allow_exact_matches`` (tag 0 < 1), AFTER otherwise (tag
2 > 1); right rows tying on (key, ts) collapse to the max payload tuple
(``_dedupe_right_ties``).

Skew: the join shuffles by the entity key; hot hosts are handled by AQE
skew handling plus the explicit ``salt_hot_keys`` helper in
``operators.salting`` (pre-splits the left side; right side is replicated
per salt bucket — valid because the right timeline is needed in full in
every bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TAG = "__asof_tag"
_TS = "__asof_ts"
_R = "__r"


def _as_list(x) -> list:
    return [x] if isinstance(x, str) else list(x)


def _orderable(dt) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _dedupe_right_ties(right: DataFrame, keys: list, right_ts: str,
                       right_payload: list) -> DataFrame:
    """Deterministic tie discipline: among right rows with identical
    (key, ts), keep the MAX payload tuple (lexicographic max(struct),
    map-side combinable — duplicates collapse before the shuffle, so the
    extra exchange carries ≈ the distinct rows).

    Why not a tie-break sort key instead: a per-row hash/struct of a wide
    payload inside the window plan sends Catalyst's constraint propagation
    super-linear (measured: 5×–OOM on a 100-column feature payload); a
    pre-aggregation keeps every downstream expression narrow.

    Payloads with non-orderable columns (maps) keep Spark's arrival order
    for exact-duplicate timestamps — documented, not silently wrong: the
    ambiguity then only exists between rows that tie on (key, ts).
    """
    if not right_payload:
        return right.dropDuplicates(keys + [right_ts])
    if not all(_orderable(right.schema[c].dataType) for c in right_payload):
        import warnings
        bad = [c for c in right_payload
               if not _orderable(right.schema[c].dataType)]
        warnings.warn(
            "asof_join: deterministic_ties skipped — non-orderable payload "
            f"column(s) {bad}; rows tying on (key, ts) resolve in arrival "
            "order. Drop/serialize the map column(s) or pass "
            "deterministic_ties=False to silence.",
            RuntimeWarning, stacklevel=3)
        return right
    agg = right.groupBy(*keys, right_ts).agg(
        F.max(F.struct(*[F.col(c) for c in right_payload])).alias("__p"))
    return agg.select(
        *keys, right_ts, *[F.col("__p")[c].alias(c) for c in right_payload])


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: str,
    allow_exact_matches: bool = True,
    tolerance_seconds: float | None = None,
    deterministic_ties: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """As-of left join, pure DataFrame ops (no Python UDF).

    ``direction``: 'backward' (default — latest right row with
    right_ts <= ts), 'forward' (earliest right row with right_ts >= ts;
    same single window pass, future-looking frame + first() fill — the
    bfill of joins, NOT leakage-safe for feature cuts and documented as
    such in operators.leakage), or 'nearest' (closer of the two by
    absolute gap, ties → backward, matching pandas merge_asof; BOTH fills
    come from one sorted window — still a single shuffle — and like
    'forward' it looks into the future, so it is not leakage-safe).

    ``deterministic_ties`` (default True) collapses right rows that share an
    exact (key, ts) to the max payload tuple before the join — run-stable
    output at the cost of one extra map-side-combined exchange. Disable for
    inputs known tie-free (e.g. ts is part of a unique key upstream)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"bad direction {direction!r}")
    if direction == "nearest" and not allow_exact_matches:
        # with one union tag a right row at equal ts can sit in the past
        # frame or the future frame but not be EXCLUDED from both, so the
        # single-pass form can't express nearest-without-exact; nobody has
        # asked for it (pandas defaults to exact too) — fail loudly rather
        # than silently approximate
        raise ValueError(
            "direction='nearest' requires allow_exact_matches=True")
    keys = _as_list(on)
    l_schema = left.schema
    left_payload = [f.name for f in l_schema.fields
                    if f.name not in keys and f.name != left_ts]
    right_payload = [c for c in right.columns if c not in keys and c != right_ts]
    if deterministic_ties:
        right = _dedupe_right_ties(right, keys, right_ts, right_payload)

    if direction in ("backward", "nearest"):
        # right rows at equal ts must sort BEFORE the left row to be in the
        # past-only frame when exact matches are allowed (for nearest the
        # backward fill then catches exact rows at gap 0, which always
        # wins the distance comparison)
        right_tag = 0 if allow_exact_matches else 2
    else:
        # forward: frame is [current, ∞) — right rows at equal ts must sort
        # AFTER the left row to be included when exact matches are allowed
        right_tag = 2 if allow_exact_matches else 0

    # the right row travels as ONE struct whose field names are the output
    # names: one window expression per frame whatever the payload width
    r_tagged = right.select(
        *keys,
        F.col(right_ts).alias(_TS),
        F.lit(right_tag).alias(_TAG),
        *[F.lit(None).cast(l_schema[c].dataType).alias(c) for c in left_payload],
        F.struct(*right_payload, right_ts).alias(_R),
    )
    l_tagged = left.select(
        *keys,
        F.col(left_ts).alias(_TS),
        F.lit(1).alias(_TAG),
        *left_payload,
        F.lit(None).cast(r_tagged.schema[_R].dataType).alias(_R),
    )

    unioned = l_tagged.unionByName(r_tagged)
    # Ties among right rows are already resolved by _dedupe_right_ties, so
    # (ts, tag) is a TOTAL order over rows that can influence a fill. Only
    # left rows carry a NULL struct, so ignorenulls skips exactly them — a
    # matched right row's NULL payload values come through as NULL.
    base = Window.partitionBy(*keys).orderBy(_TS, _TAG)
    last_r = F.last(_R, ignorenulls=True).over(
        base.rowsBetween(Window.unboundedPreceding, 0))
    first_r = F.first(_R, ignorenulls=True).over(
        base.rowsBetween(0, Window.unboundedFollowing))
    cols = [*keys, _TS, _TAG, *left_payload]
    if direction == "nearest":
        # BOTH fills over the SAME sorted window — one shuffle, two
        # frames; pick the nearer side per row, ties → backward (pandas
        # merge_asof nearest tie semantics, pinned by the parity test)
        filled = unioned.select(*cols, last_r.alias("__b"), first_r.alias("__f"))
        b_ts = F.col("__b").getField(right_ts)
        f_ts = F.col("__f").getField(right_ts)
        # TIMESTAMP_NTZ refuses a direct double cast — hop through
        # timestamp (a no-op for tz-aware/numeric ts columns)
        as_num = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
        gap_b = as_num(F.col(_TS)) - as_num(b_ts)
        gap_f = as_num(f_ts) - as_num(F.col(_TS))
        take_f = f_ts.isNotNull() & (b_ts.isNull() | (gap_f < gap_b))
        filled = filled.select(
            *cols, F.when(take_f, F.col("__f")).otherwise(F.col("__b")).alias(_R))
    else:
        filled = unioned.select(
            *cols, (last_r if direction == "backward" else first_r).alias(_R))

    out = filled.where(F.col(_TAG) == 1)

    matched = F.col(_R)
    if tolerance_seconds is not None:
        gap = F.col(_TS).cast("double") - matched.getField(right_ts).cast("double")
        if direction == "forward":
            gap = -gap
        elif direction == "nearest":
            gap = F.abs(gap)
        matched = F.when(gap <= tolerance_seconds, matched)

    return (out.select(*keys, F.col(_TS).alias(left_ts), *left_payload,
                       matched.alias(_R))
            .select(*keys, left_ts, *left_payload, f"{_R}.*"))

