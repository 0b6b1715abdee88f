"""The flagship operator: spatio-temporal nearest-neighbor join.

Semantics (parity with /root/reference/addresses.js `infer`,
lines 44-161): for every house-number Point of type 'st:Address' with
non-null geometry, find the nearest street segment whose cross-track
distance (rounded to integer meters) is < 25 m and whose fuzzy-date
validity interval, widened by ±15 flat years (ms math), contains the
house number's interval; emit a matched address record, or an error
record when no candidate survives (left-outer semantics,
addresses.js:88-114).

Physical strategy — Spark-first, no R-tree (addresses.js:61-63,151-153
replaced):

* **grid** (default, the 100 TB path): every segment is assigned each
  grid cell its ε-expanded bbox touches (ε ≥ the 25 m cutoff), and the
  segments are grouped into a cell index, `cell -> array<segment>`.
  Each house number left-joins its single containing cell — Catalyst
  broadcasts the index while it is small and shuffles both sides by
  cell past the threshold — and picks its nearest segment inside the
  row: `array_min` over the admissible segments' score structs.
  Because ε ≥ cutoff, every segment within 25 m of a point lands in
  that point's cell, so the cell's list is a superset of all surviving
  matches and the answer is EXACT (SURVEY.md §4.3).  House numbers are
  read once and never shuffled, and the trig runs once per bbox +
  temporal survivor.
* **broadcast**, **reference_knn**, **reference_knn_grid**: validation
  strategies that build candidate rows (broadcast cross join, or the
  strict reference kNN) and reduce them per `houseNumberId` with a
  `min(score)` aggregate joined back onto the house numbers.

All strategies share one admissibility predicate (ε-bbox for the
default semantics, temporal containment, distance < MAX_DISTANCE_M)
and one score struct, (distance, streetId, seg_index, streetName):
its lexicographic order gives min-by-distance with a DETERMINISTIC
tie-break (the reference's tie-break is index-order-dependent,
SURVEY.md §5).  Both are SQL text, so the grid kernel is one
`F.expr` and the validation strategies apply the same text to rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.config import (
    DATASET_HOUSE_NUMBERS,
    DATASET_STREETS,
    MAX_DISTANCE_M,
    MS_THRESHOLD,
    YEAR_THRESHOLD,
)
from etl_addresses_spark.functions.dates import fuzzy_earliest_ms, fuzzy_latest_ms
from etl_addresses_spark.functions.geo import (
    BBOX_EPS_DEG,
    crosstrack_m_sql,
    explode_segments,
    point_cell,
    segment_cells,
)
from etl_addresses_spark.functions.ids import full_id, internal_id

ERROR_MESSAGE = (
    f"Can't find street within {MAX_DISTANCE_M} meters and {YEAR_THRESHOLD} years"
)


def _prepare_house_numbers(house_numbers: DataFrame) -> DataFrame:
    """P1/P2 filters + probe-side derived columns (addresses.js:50-52,67-68)."""
    hn = house_numbers.filter(
        (F.col("type") == "st:Address") & F.col("geometry").isNotNull()
    )
    return hn.select(
        internal_id(F.col("id")).alias("hn_internal_id"),
        full_id(DATASET_HOUSE_NUMBERS, F.col("id")).alias("houseNumberId"),
        F.col("validSince").alias("hn_validSince"),
        F.col("validUntil").alias("hn_validUntil"),
        F.col("data").alias("addressData"),
        F.col("geometry").alias("addressGeometry"),
        F.col("geometry.coordinates").getItem(0).alias("pt_lon"),
        F.col("geometry.coordinates").getItem(1).alias("pt_lat"),
        fuzzy_earliest_ms(F.col("validSince")).alias("addr_since_ms"),
        fuzzy_latest_ms(F.col("validUntil")).alias("addr_until_ms"),
    )


def _prepare_segments(streets: DataFrame) -> DataFrame:
    """P3 filter + F9 segment explode + build-side derived columns
    (addresses.js:125-137), properties minus geometry (P6)."""
    segs = explode_segments(streets.filter(F.col("geometry").isNotNull()))
    return segs.select(
        full_id(DATASET_STREETS, F.col("id")).alias("streetId"),
        F.col("name").alias("streetName"),
        F.col("seg_index"),
        F.col("seg_lon1"),
        F.col("seg_lat1"),
        F.col("seg_lon2"),
        F.col("seg_lat2"),
        (fuzzy_earliest_ms(F.col("validSince")) - F.lit(MS_THRESHOLD)).alias(
            "seg_since_ms"
        ),
        (fuzzy_latest_ms(F.col("validUntil")) + F.lit(MS_THRESHOLD)).alias(
            "seg_until_ms"
        ),
    )


# The segment fields the score and the admissibility predicate read;
# the grid cell index carries exactly these per segment.
_SEG_FIELDS = (
    "streetId",
    "streetName",
    "seg_index",
    "seg_lon1",
    "seg_lat1",
    "seg_lon2",
    "seg_lat2",
    "seg_since_ms",
    "seg_until_ms",
)

# The bbox, temporal and score SQL renderers below take the prefix of
# the segment fields: "" on candidate rows, "seg." on an element of a
# cell's segment array.


def _bbox_sql(s: str = "") -> str:
    """Exact candidate predicate: the point lies inside the segment's
    ε-expanded bbox (the reference R-tree's `search` probe,
    addresses.js:61).  It refines the (coarser) grid cell, so the grid
    and broadcast strategies implement identical logical semantics.

    Deliberate deviation from the reference (documented, SURVEY.md §4.3
    edge note): the reference ALSO feeds the 10 index-nearest segments
    as candidates (addresses.js:62).  Because `turf.crosstrack` measures
    distance to the segment's INFINITE great circle, that fallback can
    "match" a far-away collinear segment (e.g. the same street row one
    grid column over, hundreds of meters away, crosstrack ≈ 0).  We
    exclude those degenerate matches: a candidate must be spatially near
    the point (within ε ≈ 45-55 m), not merely near its great circle.
    """
    eps = f"{BBOX_EPS_DEG!r}D"
    return (
        f"pt_lon >= least({s}seg_lon1, {s}seg_lon2) - {eps}"
        f" AND pt_lon <= greatest({s}seg_lon1, {s}seg_lon2) + {eps}"
        f" AND pt_lat >= least({s}seg_lat1, {s}seg_lat2) - {eps}"
        f" AND pt_lat <= greatest({s}seg_lat1, {s}seg_lat2) + {eps}"
    )


def _temporal_sql(s: str = "") -> str:
    """The segment's ±15-year widened validity contains the house
    number's (addresses.js:66-74): long compares, so it runs before the
    trig."""
    return f"{s}seg_since_ms <= addr_since_ms AND {s}seg_until_ms >= addr_until_ms"


def _score_sql(s: str = "") -> str:
    """The argmin key (addresses.js:75-90): rounded cross-track meters,
    then (streetId, seg_index) as the deterministic tie-break; the
    street name rides along as payload."""
    dist = crosstrack_m_sql(
        f"{s}seg_lat1",
        f"{s}seg_lon1",
        f"{s}seg_lat2",
        f"{s}seg_lon2",
        "pt_lat",
        "pt_lon",
    )
    return (
        f"struct({dist} AS distance, {s}streetId AS streetId, "
        f"{s}seg_index AS seg_index, {s}streetName AS streetName)"
    )


def _near_sql(score: str) -> str:
    """The distance cutoff (addresses.js:82) on a score struct."""
    return f"{score}.distance < {MAX_DISTANCE_M}"


def _segment_cells(segs: DataFrame) -> DataFrame:
    """One row per (segment, grid cell its ε-expanded bbox touches)."""
    return segs.withColumn(
        "cell",
        F.explode(
            segment_cells(
                F.col("seg_lat1"),
                F.col("seg_lon1"),
                F.col("seg_lat2"),
                F.col("seg_lon2"),
            )
        ),
    )


def _nearest_in_cell(hn: DataFrame, segs: DataFrame) -> DataFrame:
    """The grid strategy: `hn` plus `best`, the nearest admissible
    segment's score struct (NULL when none), computed per row.

    The segments are grouped into a cell index and each house number
    left-joins its one cell; the argmin then runs inside the row over
    the cell's segment array — bbox and temporal filter first, the
    trig only on their survivors, then the distance cutoff.  No
    candidate row is ever materialized, so the house numbers are
    scanned once and never shuffled."""
    index = (
        _segment_cells(segs)
        .groupBy("cell")
        .agg(F.collect_list(F.struct(*_SEG_FIELDS)).alias("segs"))
    )
    nearest = F.expr(
        "array_min(filter(transform("
        f"filter(segs, seg -> {_bbox_sql('seg.')} AND {_temporal_sql('seg.')}), "
        f"seg -> {_score_sql('seg.')}), "
        f"c -> {_near_sql('c')}))"
    )
    return (
        hn.withColumn("cell", point_cell(F.col("pt_lat"), F.col("pt_lon")))
        .join(index, "cell", "left")
        .select(*hn.columns, nearest.alias("best"))
    )


def _nearest_per_id(hn: DataFrame, cand: DataFrame) -> DataFrame:
    """The validation strategies' reduction: `hn` plus `best`, the
    minimum admissible score over each houseNumberId's candidate rows,
    joined back onto the house numbers."""
    best = (
        cand.filter(F.expr(_temporal_sql()))
        .select("houseNumberId", F.expr(_score_sql()).alias("score"))
        .filter(F.expr(_near_sql("score")))
        .groupBy("houseNumberId")
        .agg(F.min("score").alias("best"))
    )
    return hn.join(best, "houseNumberId", "left")


def _candidates(hn: DataFrame, segs: DataFrame, strategy: str) -> DataFrame:
    if strategy == "broadcast":
        return hn.crossJoin(F.broadcast(segs)).filter(F.expr(_bbox_sql()))
    if strategy == "reference_knn":
        return _reference_knn_candidates(hn, segs)
    if strategy == "reference_knn_grid":
        return _reference_knn_candidates_grid(hn, segs)
    raise ValueError(f"unknown strategy {strategy!r}")


def _reference_knn_candidates(hn: DataFrame, segs: DataFrame) -> DataFrame:
    """STRICT reference-parity candidate semantics (addresses.js:61-63):
    `search` (exact bbox containment, no ε) ∪ `nearest(10)` (the 10
    nearest segments by planar point-to-bbox distance — what an R-tree
    kNN compares).  Unlike the default bbox semantics this can match a
    FAR-AWAY collinear segment whose infinite great circle passes within
    25 m of the point, exactly as the reference does.

    Physical shape is a ranked broadcast cross join — a validation mode,
    deliberately not the scale path (the rank is O(points x segments));
    the deterministic (boxdist, streetId, seg_index) tie-break stands in
    for the reference's index-insertion order."""
    from pyspark.sql import Window as W

    from etl_addresses_spark.config import KNN_FANOUT

    pairs = hn.crossJoin(F.broadcast(segs))
    boxdist2, bbox_hit = _knn_pair_metrics(pairs)
    w = W.partitionBy("houseNumberId").orderBy(
        boxdist2.asc(), F.col("streetId").asc(), F.col("seg_index").asc()
    )
    return (
        pairs.withColumn("_knn_rank", F.row_number().over(w))
        .filter(bbox_hit | (F.col("_knn_rank") <= KNN_FANOUT))
        .drop("_knn_rank")
    )


def _knn_pair_metrics(pairs: DataFrame):
    """(boxdist², exact-bbox-hit) shared by both kNN strategies —
    identical expressions so the grid variant provably computes the
    same ordering the cross-join validation mode does."""
    minx = F.least(F.col("seg_lon1"), F.col("seg_lon2"))
    maxx = F.greatest(F.col("seg_lon1"), F.col("seg_lon2"))
    miny = F.least(F.col("seg_lat1"), F.col("seg_lat2"))
    maxy = F.greatest(F.col("seg_lat1"), F.col("seg_lat2"))
    dx = F.greatest(minx - F.col("pt_lon"), F.col("pt_lon") - maxx, F.lit(0.0))
    dy = F.greatest(miny - F.col("pt_lat"), F.col("pt_lat") - maxy, F.lit(0.0))
    boxdist2 = dx * dx + dy * dy
    bbox_hit = (
        (F.col("pt_lon") >= minx)
        & (F.col("pt_lon") <= maxx)
        & (F.col("pt_lat") >= miny)
        & (F.col("pt_lat") <= maxy)
    )
    return boxdist2, bbox_hit


def _grid_knn_local(hn: DataFrame, segs: DataFrame) -> DataFrame:
    """The grid-kNN's deduped block-local candidate set — ONE row per
    (point, segment) whose segment is indexed in the point's 5x5 cell
    neighborhood.  Shared by `_reference_knn_candidates_grid` and the
    escalation-residue census (tools/knn_residue.py) so the census
    always measures exactly the production candidate pipeline.

    The repartition on houseNumberId makes ONE exchange serve both
    the dedup (HashPartitioning on a subset satisfies the 3-key
    ClusteredDistribution) and the per-point rank/nsafe windows
    downstream — without it the plan shuffles the wide candidate rows
    twice (measured 8.9 -> 5.3 s alone at sf0.1; 48.6 -> 27.2 s at
    10x).  Skew bound: one partition key = one point's candidates,
    capped by its 25-cell neighborhood's segment count."""
    from etl_addresses_spark.functions.geo import point_neighbor_cells

    probes = hn.withColumn(
        "cell", F.explode(point_neighbor_cells(F.col("pt_lat"), F.col("pt_lon")))
    )
    # A segment indexed in several block cells would appear per cell:
    # dedup to one candidate row per (point, segment) before ranking.
    return (
        probes.join(_segment_cells(segs), "cell")
        .drop("cell")
        .repartition("houseNumberId")
        .dropDuplicates(["houseNumberId", "streetId", "seg_index"])
    )


def _reference_knn_candidates_grid(hn: DataFrame, segs: DataFrame) -> DataFrame:
    """Grid-prefiltered STRICT reference-parity kNN — same output as
    `_reference_knn_candidates`, scale-safe physical plan.

    Each point probes its 5x5 grid-cell neighborhood (equi-join on cell
    id, 25x probe fan-out — no cross join).  A segment NOT indexed in
    that block has planar bbox distance >= 2·GRID_CELL_DEG from the
    point (geo.point_neighbor_cells), so when a point sees >= KNN_FANOUT
    local candidates STRICTLY inside that radius, its block-local
    (boxdist, streetId, seg_index) top-k is provably the global top-k —
    and exact bbox-containment hits are always block-local (a containing
    bbox overlaps the point's own cell).  The rare points that don't
    reach the bound (sparse regions, block edges) fall back to the
    ranked broadcast cross join — but only for that residue, so the
    O(points x segments) term is bounded by a small escalation set
    instead of the whole input."""
    from pyspark.sql import Window as W

    from etl_addresses_spark.config import GRID_CELL_DEG, KNN_FANOUT

    local = _grid_knn_local(hn, segs)
    boxdist2, bbox_hit = _knn_pair_metrics(local)
    w = W.partitionBy("houseNumberId")
    worder = w.orderBy(
        boxdist2.asc(), F.col("streetId").asc(), F.col("seg_index").asc()
    )
    safe2 = F.lit((2.0 * GRID_CELL_DEG) ** 2)
    ranked = (
        local.withColumn("_bbox_hit", bbox_hit)
        .withColumn("_boxdist2", boxdist2)
        .withColumn("_rank", F.row_number().over(worder))
        .withColumn(
            "_nsafe",
            F.sum(F.when(F.col("_boxdist2") < safe2, 1).otherwise(0)).over(w),
        )
    )
    safe_rows = ranked.filter(F.col("_nsafe") >= KNN_FANOUT)
    out_local = safe_rows.filter(
        F.col("_bbox_hit") | (F.col("_rank") <= KNN_FANOUT)
    ).drop("_bbox_hit", "_boxdist2", "_rank", "_nsafe")
    # Escalation residue: points without KNN_FANOUT provably-complete
    # local candidates (includes points with zero local candidates).
    escalated = hn.join(
        safe_rows.select("houseNumberId").distinct(), "houseNumberId", "left_anti"
    )
    return out_local.unionByName(_reference_knn_candidates(escalated, segs))


def infer_addresses(
    house_numbers: DataFrame,
    streets: DataFrame,
    strategy: str = "grid",
) -> DataFrame:
    """Full infer step: returns the `inferred` DataFrame — one row per
    surviving house number, matched columns or `error` populated
    (schema parity with FIXTURES.md §A3, addresses.js:95-114).

    The grid strategy matches per record, like the reference's loop
    over house numbers: two exact-duplicate rows each get the same
    street, and two rows that share a houseNumberId but sit at
    different points each get their own nearest street.  The
    validation strategies reduce per houseNumberId instead, so such
    rows share the minimum over their union; on unique ids (every
    fixture) all strategies agree."""
    hn = _prepare_house_numbers(house_numbers)
    segs = _prepare_segments(streets)
    if strategy == "grid":
        joined = _nearest_in_cell(hn, segs)
    else:
        joined = _nearest_per_id(hn, _candidates(hn, segs, strategy))

    # Left-outer: unmatched house numbers become error records
    # (addresses.js:88,107-114).
    street_id, street_name = F.col("best.streetId"), F.col("best.streetName")
    matched = street_id.isNotNull()
    return joined.select(
        F.when(matched, F.col("hn_internal_id")).alias("id"),
        # concat (not concat_ws): propagates NULL like the oracle's
        # `number || ' ' || streetName`.  A NULL house number yields a
        # NULL name on both sides — chosen over the reference's literal
        # "undefined <street>" rendering of a JS undefined.
        F.when(
            matched,
            F.concat(F.col("addressData.number"), F.lit(" "), street_name),
        ).alias("name"),
        F.col("houseNumberId"),
        street_id.alias("streetId"),
        F.when(matched, F.col("hn_validSince")).alias("validSince"),
        F.when(matched, F.col("hn_validUntil")).alias("validUntil"),
        street_name.alias("streetName"),
        F.col("addressData"),
        F.col("best.distance").alias("lineLength"),
        F.col("addressGeometry"),
        F.when(~matched, F.lit(ERROR_MESSAGE)).alias("error"),
    )


def infer_addresses_observed(
    house_numbers: DataFrame,
    streets: DataFrame,
    strategy: str = "grid",
):
    """infer_addresses plus an Observation — the A1 progress counter
    (addresses.js:49-59) done the Spark way: metrics collected by the
    executors during the job, no side-effect logging in the data path.

    Returns (inferred_df, observation); after an action,
    `observation.get` holds processed/matched/unmatched counts."""
    from pyspark.sql import Observation

    obs = Observation("infer_addresses")
    inferred = infer_addresses(house_numbers, streets, strategy=strategy)
    observed = inferred.observe(
        obs,
        F.count(F.lit(1)).alias("processed"),
        F.count("streetId").alias("matched"),
        F.count("error").alias("unmatched"),
    )
    return observed, obs


def inferred_flat(inferred: DataFrame) -> DataFrame:
    """Flat projection of the inferred output for the DuckDB oracle
    (nested structs/geometry unfolded into scalar columns)."""
    return inferred.select(
        "id",
        "name",
        "houseNumberId",
        "streetId",
        "validSince",
        "validUntil",
        "streetName",
        "lineLength",
        "error",
        F.col("addressData.sheetId").alias("sheetId"),
        F.col("addressData.layerId").alias("layerId"),
        F.col("addressData.mapId").alias("mapId"),
        F.col("addressData.number").alias("number"),
        F.col("addressData.borough").alias("borough"),
    )
