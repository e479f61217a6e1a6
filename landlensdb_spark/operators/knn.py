"""kNN join: histogram-certified ring expansion -> single candidate join -> top-k.

Generalizes the reference's nearest-1 index probe
(/root/reference/landlensdb/process/snap.py:34-53) to distributed k-nearest.
Earlier revisions used a driver-side doubling loop (grow the ring until the
distance certificate holds — the Spark analog of the reference's
grow-until-found bbox recursion, cloud.py:963-977). That loop launches a
job-chain per round (join, window, split, isEmpty) whose fixed latency
dominates at small-probe scale and *inverts* scaling: more cores = more tiny
tasks per round. This version computes the certified ring radius per probe
from a cell histogram instead, so the whole operator is ONE Spark action with
no driver synchronization:

1. Both sides get a mercator-grid cell id (pure column math,
   :func:`landlensdb_spark.geo.cells.cell_encode`).
2. **Histogram** ``H``: points per cell (map-side-combined groupBy).
3. **Ring selection**: each probe explodes its (2R+1)^2 cell box tagged with
   the Chebyshev ring index, joins ``H`` (probe side broadcast — the
   histogram never shuffles), and a cumulative window picks
   ``r1 = min r: points within box r >= k``.
4. **Certificate**: every point in box ``r1`` is within
   ``sqrt(2) * (r1+1) * cell`` meters; any point outside box ``r`` is at
   least ``(r-1) * cell`` away (probe anywhere in its own cell). So scanning
   box ``r2 = ceil(sqrt(2) * (r1+1))`` provably contains the exact top-k.
5. **Candidate join**: probes explode box ``r2`` (per-probe, column-driven
   ``sequence``), broadcast-join points on the cell long, and
   ``row_number() OVER (PARTITION BY probe ORDER BY dist2, neighbor_id)``
   keeps the top-k (the reference's sort + group-first argmin, snap.py:218-221,
   generalized from 1 to k; deterministic tie-break by neighbor id).
6. Probes with < k points inside box ``R`` (cap ``start_ring <<
   (max_rounds-1)``, the old loop's reach) fall back to a broadcast
   brute-force pass, so results are always exact.

At cluster scale the point side is never shuffled by a join; the only
data-sized shuffle is the histogram's map-side-combined aggregation. The
points lineage is evaluated up to three times in the single action
(histogram, candidate join, fallback) — pass ``persist_points=True`` to
cache it when the point side is an expensive scan rather than cheap
column math. ``broadcast_probes=False`` pins the joins to SHUFFLE_HASH for
large probe sets (self-kNN): merely leaving the strategy to AQE lets it
re-broadcast the exploded probe-cells side under the byte threshold, whose
driver-side hash-relation build is a probe-count-proportional serial term.

Distances are squared EPSG:3857 meters (monotonic — avoids sqrt entirely);
coords are pre-rounded to 1e-3 m for cross-engine float parity (synth.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from landlensdb_spark.geo.cells import _RES_SHIFT, _X_SHIFT, cell_encode, cell_x, cell_y
from landlensdb_spark.geo.hex import (
    _BIAS as _HEX_BIAS,
    _FIELD as _HEX_FIELD,
    _Q_SHIFT as _HEX_Q_SHIFT,
    SQRT3,
    hex_encode,
    hex_q,
    hex_r,
)
from landlensdb_spark.geo.mercator import R

WORLD = 2.0 * math.pi * R


def _with_merc(df: DataFrame, lon: str, lat: str, px: str, py: str) -> DataFrame:
    mx = F.round(F.radians(F.col(lon)) * F.lit(R), 3)
    my = F.round(
        F.lit(R) * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(F.col(lat)) / 2)), 3
    )
    return df.withColumn(px, mx).withColumn(py, my)


def _cell_shift(cell: Column, dx: Column, dy: Column, res: int) -> Column:
    """Neighbor cell id at offset (dx, dy); out-of-range x OR y -> NULL.

    x deliberately does NOT wrap at the antimeridian: distances here are
    UNWRAPPED planar mercator (the operator's documented metric, matching
    the SQL oracle's (x1-x2)^2). Wrapping x would count seam-crossing cells
    toward the ring certificate while their unwrapped distance is ~WORLD —
    a probe near lon 180 could then be 'certified' with wrapped neighbors
    while the true (unwrapped) nearest sits just outside box r2. With NULL,
    seam boxes simply see fewer cells, and probes that cannot certify fall
    through to the exact brute-force pass."""
    n = 1 << res
    nx = cell_x(cell) + dx
    ny = cell_y(cell) + dy
    base = F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT)
    return F.when(
        (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n),
        base + F.shiftleft(nx, _X_SHIFT) + ny,
    )


class _SquareGrid:
    """Chebyshev-box expansion on the Morton grid (the original path).

    Certificate geometry (cell side s): a candidate in box r1 is within
    sqrt(2)*(r1+1)*s of the probe; any point at cell offset c is at least
    (c-1)*s away, so box r2 = ceil(sqrt(2)*(r1+1)) provably contains the
    exact top-k. Box r scans (2r+1)^2 cells."""

    def __init__(self, res: int):
        self.res = res

    def encode(self, lon: str, lat: str) -> Column:
        return cell_encode(lon, lat, self.res)

    def shift(self, cell: Column, da: Column, db: Column) -> Column:
        return _cell_shift(cell, da, db, self.res)

    def ring(self, da: Column, db: Column) -> Column:
        return F.greatest(F.abs(da), F.abs(db))

    def db_lo(self, rad: Column, da: Column) -> Column:
        return -rad

    def db_hi(self, rad: Column, da: Column) -> Column:
        return rad

    def r2_int(self, r1: int) -> int:
        return math.ceil(math.sqrt(2.0) * (r1 + 1))

    def r2_col(self, r1: Column) -> Column:
        return F.ceil(F.sqrt(F.lit(2.0)) * (r1 + 1)).cast("int")

    def bound_m(self, r1: int) -> float:
        """Upper bound (meters) on the k-th neighbor distance of a probe
        whose box ``r1`` holds >= k points: every such point is within
        sqrt(2)*(r1+1) cell sides (the certificate geometry above)."""
        return math.sqrt(2.0) * (r1 + 1) * (WORLD / (1 << self.res))


class _HexGrid:
    """Isotropic hex-ring expansion on the hexagonal index (geo/hex.py).

    Ring r scans 3r(r+1)+1 cells vs the square box's (2r+1)^2 for the same
    reach, and the hex metric bounds the re-rank radius tighter.
    Certificate geometry (edge e): adjacent hex centers are sqrt(3)*e
    apart, so a candidate at grid distance <= r1 is within
    sqrt(3)*e*r1 + 2e of the probe (each endpoint within the circumradius
    e of its own center); centers at grid distance g are >= 1.5*e*g apart
    (the tight bound proven in operators/hex_join.py), so any point outside
    ring r2 is >= 1.5*e*(r2+1) - 2e away. Ring
    r2 = ceil((sqrt(3)*r1 + 4)/1.5 - 1) therefore provably contains the
    exact top-k: at r1 = 1 that is a 37-cell scan vs the square's 49 at
    the same resolution (~25% fewer cells, ~35% fewer candidate rows after
    the hex cell's 0.866x area is counted)."""

    def __init__(self, res: int):
        self.res = res

    def encode(self, lon: str, lat: str) -> Column:
        return hex_encode(lon, lat, self.res)

    def shift(self, cell: Column, dq: Column, dr: Column) -> Column:
        nq = hex_q(cell) + dq + F.lit(_HEX_BIAS)
        nr = hex_r(cell) + dr + F.lit(_HEX_BIAS)
        return F.when(
            (nq >= 0) & (nq < _HEX_FIELD) & (nr >= 0) & (nr < _HEX_FIELD),
            cell + dq.cast("long") * F.lit(1 << _HEX_Q_SHIFT) + dr.cast("long"),
        )

    def ring(self, dq: Column, dr: Column) -> Column:
        return ((F.abs(dq) + F.abs(dr) + F.abs(dq + dr)) / F.lit(2)).cast("int")

    # axial-coordinate bounds of |hex distance| <= rad: dr in
    # [max(-rad, -dq-rad), min(rad, -dq+rad)] — exactly the 3r(r+1)+1 cells
    def db_lo(self, rad: Column, dq: Column) -> Column:
        return F.greatest(-rad, -dq - rad)

    def db_hi(self, rad: Column, dq: Column) -> Column:
        return F.least(rad, -dq + rad)

    def r2_int(self, r1: int) -> int:
        return math.ceil((SQRT3 * r1 + 4.0) / 1.5 - 1.0)

    def r2_col(self, r1: Column) -> Column:
        return F.ceil((F.lit(SQRT3) * r1 + F.lit(4.0)) / F.lit(1.5) - F.lit(1.0)).cast(
            "int"
        )

    def bound_m(self, r1: int) -> float:
        """k-th-distance bound for a probe whose ring ``r1`` holds >= k
        points: sqrt(3)*e*r1 + 2e (certificate geometry above)."""
        e = WORLD / ((1 << self.res) * SQRT3)
        return SQRT3 * e * r1 + 2.0 * e


def _auto_res(points: DataFrame, lon: str, lat: str, k: int) -> int:
    return _auto_res_info(points, lon, lat, k)[0]


def _auto_res_info(points: DataFrame, lon: str, lat: str, k: int) -> tuple[int, bool]:
    """(res, met_target): pick the expansion grid from OBSERVED density — the finest resolution
    whose average points per occupied cell is still >= k/2 (so the ring
    search certifies at r1 <= ~1 and box r2 holds O(k) candidates). One
    map-side HLL pass computes all candidate resolutions at once; hand-tuned
    ``res`` remains available for callers that want to skip the probe scan.

    Rationale for k/2 (measured, bench.py): cells at ~k points average make
    r2 boxes of ~(2*ceil(sqrt2*2)+1)^2/4 * k candidates; halving the cell
    population roughly halves candidate rows at the cost of r1=1 more often
    — the sweet spot the bench's hand-tuned res 20 sits on. A too-coarse
    pick is the real failure mode (res 16 there = ~1300 pts/cell = ~60M
    window rows), so ties err fine-side.
    """
    from landlensdb_spark.geo.tiles import tile_x, tile_y

    # memoized per (point-plan, data snapshot, columns, k): repeated kNN
    # calls against the same point table (the production shape — one index,
    # many probe batches) pay the density probe once, like snap's
    # network-prep cache. inputFiles() folds the concrete part-file names
    # into the key: Spark writes job-unique part names, so rewriting a
    # table at the same path yields a different key and a fresh probe —
    # the plan-only semanticHash alone would reuse a stale res there.
    try:
        snap = hash(tuple(sorted(points.inputFiles())))
        memo_key = (
            points._jdf.queryExecution().analyzed().semanticHash(),
            snap,
            lon,
            lat,
            k,
        )
        if memo_key in _RES_CACHE:
            return _RES_CACHE[memo_key]
    except Exception:  # pragma: no cover - semanticHash unavailable
        memo_key = None

    cands = list(range(6, 25))
    base = max(cands)
    # one trig pass at the finest candidate res; every coarser cell id is a
    # bit-shift of it (per-res transcendental projections otherwise dominate
    # the probe). Coarse HLL precision (rsd 0.15) is plenty: occupancy moves
    # ~4x per even/odd ladder step, and the cheap sketches cut the probe
    # from ~1.9s to ~0.4s on the 150k-point bench field. Step 1 (r08): the
    # old step-2 ladder quantized occupancy by 4x, so a field whose true
    # k/2 crossing sits between rungs landed a rung low and quadrupled the
    # candidate rows (bench field: step-2 picked res 18 at ~20 pts/cell =
    # 2.0M candidates where res 19 at ~5 pts/cell certifies identically
    # with ~0.5M) — nine extra shift-derived HLL sketches in the same pass
    # are far cheaper than 4x the candidate join.
    xy = points.select(tile_x(lon, base).alias("_x"), tile_y(lat, base).alias("_y"))
    row = xy.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.approx_count_distinct(
                F.shiftleft(F.shiftright(F.col("_x"), base - r), 29)
                + F.shiftright(F.col("_y"), base - r),
                0.15,
            ).alias(f"_c{r}")
            for r in cands
        ],
    ).first()
    n = row["_n"]
    if not n:
        return (12, False)
    best, met = cands[0], False
    # one-rsd slack on the acceptance test (r08): the occupancy estimate
    # n/HLL(cells) carries the sketch's 15% error, and rejecting a rung
    # whose TRUE average meets the target quadruples+ the candidate rows
    # (bench field: res 19 holds exactly 5.3 pts/cell but estimated ~4.9
    # and was rejected — measured 0.66s vs 1.0s warm per call). A rung
    # admitted one sigma early still certifies comfortably (box 1 holds
    # ~9*target/1.15 = ~3.9k points for k>=2) and uncertified probes fall
    # through to the exact escalation pass regardless.
    target = max(k / 2.0, 1.0) / 1.15
    for r in cands:  # ascending: keep the finest res that still meets target
        if n / max(row[f"_c{r}"], 1) >= target:
            best, met = r, True
    out = (best, met)
    if memo_key is not None:
        if len(_RES_CACHE) >= 64:
            _RES_CACHE.pop(next(iter(_RES_CACHE)))
        _RES_CACHE[memo_key] = out
    return out


#: keyed by (plan semanticHash, sorted-inputFiles hash, cols, k) — the
#: file-name component makes a rewrite at the same path a cache MISS
#: (Spark part names are job-unique), so no manual invalidation is needed
#: for file-backed tables. clear_res_cache() remains for exotic sources
#: whose inputFiles() is empty (e.g. JDBC) where only the plan is keyed.
_RES_CACHE: dict = {}


def clear_res_cache() -> None:
    _RES_CACHE.clear()


def _dist2() -> Column:
    return (F.col("_px") - F.col("_nx")) * (F.col("_px") - F.col("_nx")) + (
        F.col("_py") - F.col("_ny")
    ) * (F.col("_py") - F.col("_ny"))


def _certify_join(pts, prb_sub, grid, r1c, k, maybe_bc, w):
    """Certify-in-join pass at constant box/ring radius ``r1c``: candidates
    come from radius ``r2c = grid.r2_int(r1c)``; a probe whose radius
    ``r1c`` holds >= k points is provably exact (the grid adapter's
    certificate geometry — see _SquareGrid/_HexGrid docstrings). Needs no
    histogram — certification reads the ring tag riding the exploded box,
    sharing the candidate join's one shuffle. Returns the certified
    (_pid, _nid, dist2, rank) rows only."""
    r2c = grid.r2_int(r1c)
    probe_cells = (
        prb_sub.select(
            "_pid",
            "_px",
            "_py",
            "_pcell",
            F.explode(F.sequence(F.lit(-r2c), F.lit(r2c))).alias("_dx"),
        )
        .select(
            "_pid",
            "_px",
            "_py",
            "_pcell",
            "_dx",
            F.explode(
                F.sequence(
                    grid.db_lo(F.lit(r2c), F.col("_dx")),
                    grid.db_hi(F.lit(r2c), F.col("_dx")),
                )
            ).alias("_dy"),
        )
        .select(
            "_pid",
            "_px",
            "_py",
            grid.ring(F.col("_dx"), F.col("_dy")).alias("_ring"),
            grid.shift(F.col("_pcell"), F.col("_dx"), F.col("_dy")).alias("_jc"),
        )
        .filter(F.col("_jc").isNotNull())
    )
    # the within-r1c count is order-independent, so it can ride the SAME
    # (partition, order) spec as the top-k row_number with an explicit
    # whole-partition frame — one Sort feeds both Window operators instead
    # of the unordered sum forcing its own second sort of the candidate set
    wp = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # certificate pre-filter BEFORE the exchange+sort: a certified probe's
    # k-th distance is <= grid.bound_m(r1c) (>= k points inside radius r1c,
    # each within the bound), so any candidate beyond it can only ever rank
    # > k — dropping it changes neither the kept rows nor their ranks, and
    # every ring-<=r1c row (the _nclose evidence) is itself within the
    # bound, so certification is unchanged. Cuts the box-r2c corner mass
    # (~half the candidate rows on a uniform field) out of the shuffle and
    # the window sort (guide §2.3: shuffle fewer bytes). The +1cm slack
    # covers the 1e-3 m mercator rounding of both endpoints.
    bound2 = (grid.bound_m(r1c) + 0.01) ** 2
    cand = pts.join(
        maybe_bc(probe_cells), F.col("_ncell") == F.col("_jc"), "inner"
    ).select(
        "_pid",
        "_nid",
        "_ring",
        _dist2().alias("dist2"),
    ).filter(
        F.col("dist2") <= F.lit(bound2)
    ).select(
        "_pid",
        "_nid",
        "dist2",
        F.sum(F.when(F.col("_ring") <= r1c, 1).otherwise(0)).over(wp).alias("_nclose"),
        F.row_number().over(w).alias("rank"),
    )
    return cand.filter((F.col("_nclose") >= k) & (F.col("rank") <= k)).select(
        "_pid", "_nid", "dist2", "rank"
    )


def _guarded_bruteforce(unresolved, pts, k, w, max_fallback_probes):
    """Exact brute-force pass for probes no ring could certify, with a
    LAZY size guard: the worst case is |unresolved| * N shuffle rows (a
    batch of ocean probes against 10^9 points would detonate), so the
    probe side is limited to ``max_fallback_probes + 1`` rows and a
    row_number + assert_true column raises a clear runtime error when the
    cap is exceeded — no driver-side count action, no aggregation node
    (the fixed-ring path's zero-HashAggregate plan shape is preserved).
    Under the cap the limit is a no-op, so results stay exact."""
    sel = unresolved.select("_pid", "_px", "_py")
    if max_fallback_probes is not None:
        wg = Window.partitionBy(F.lit(1)).orderBy("_pid")
        sel = (
            sel.limit(max_fallback_probes + 1)
            .withColumn("_rn", F.row_number().over(wg))
            .withColumn(
                "_g",
                F.assert_true(
                    F.col("_rn") <= F.lit(max_fallback_probes),
                    F.lit(
                        "knn_join: more than "
                        f"{max_fallback_probes} probes fell through to the "
                        "brute-force fallback (each one cross-joins the "
                        "ENTIRE point table). The point field is too sparse "
                        "for the grid: pass a coarser res, raise "
                        "escalate_ring, or raise max_fallback_probes if the "
                        "cross product is genuinely intended."
                    ),
                ),
            )
            .filter(F.col("_g").isNull())  # forces the assert; always true
            .drop("_rn", "_g")
        )
    return (
        sel.crossJoin(pts.drop("_ncell"))
        .withColumn("dist2", _dist2())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("_pid", "_nid", "dist2", "rank")
    )


def knn_join(
    probes: DataFrame,
    points: DataFrame,
    k: int,
    probe_id: str = "probe_id",
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    res: int | None = None,
    start_ring: int = 1,
    max_rounds: int = 3,
    broadcast_probes: bool = True,
    persist_points: bool = False,
    fixed_ring: int | None = None,
    escalate_ring: int | None = None,
    max_fallback_probes: int | None = 10_000,
    grid: str = "square",
) -> DataFrame:
    """Exact k-nearest ``points`` for every probe row.

    Returns (probe_id, point_id, dist2, rank) with rank in 1..k. ``res`` is
    the expansion grid (cell side = 40,075 km / 2^res); default None derives
    it from the observed cell-occupancy histogram (one extra HLL pass over
    the point side) — pass it explicitly only to skip that probe scan.

    ``grid``: ``"square"`` (Chebyshev boxes on the Morton grid) or
    ``"hex"`` (isotropic rings on the hexagonal index, geo/hex.py) — the
    hex ring scans 3r(r+1)+1 cells where the square box scans (2r+1)^2
    for the same certified reach, and the hex metric bounds the re-rank
    radius tighter (at the default certify ring 1: 37 cells vs 49, ~35%
    fewer candidate rows after cell area is counted). Results are exact
    and identical under either grid; only the candidate-generation
    geometry changes. The density probe reuses the square-occupancy
    histogram for both (a res-r hex cell has 0.866x the area of the res-r
    square cell, so the same res errs slightly fine-side for hex — the
    direction the probe's tie-break already prefers).
    ``start_ring``/``max_rounds`` bound the histogram search to ring
    ``start_ring << (max_rounds - 1)`` before brute-force fallback.
    ``broadcast_probes=False`` for probe sets too big to broadcast
    (e.g. self-kNN); the joins are then PINNED to shuffle_hash — both sides
    shuffle on the cell key and AQE only re-plans partition counts/skew,
    never back to a broadcast whose driver-side build would serialize the
    exploded probe boxes (see the maybe_bc comment below for the measured
    cost).

    ``fixed_ring``: skip the adaptive histogram/ring-selection stages and
    certify every probe at the CONSTANT box radius ``fixed_ring`` instead —
    the certificate moves into the candidate join itself (a probe whose
    box ``fixed_ring`` holds >= k candidates is provably exact; the rest
    brute-force). Cuts three stage boundaries (histogram shuffle, ring
    groupBy, one broadcast build) at the cost of a somewhat larger constant
    candidate box. Engaged AUTOMATICALLY (at ring 1) when ``res`` came from
    the density probe and the probe met its >= k/2 points-per-cell target —
    there, box 1 averages >= 4.5*(k/2) candidates, so nearly every probe
    certifies. Pass an int to force it, or rely on ``res=...`` to keep the
    adaptive path.

    Probes the primary pass cannot certify get ONE wider certify-in-join
    escalation at box ``escalate_ring`` (default: one more doubling,
    ``max(2 * primary_reach, 4)``) before brute force, and the residual
    brute-force pass is capped at ``max_fallback_probes`` probes — beyond
    that the job RAISES instead of detonating an |unresolved| x N cross
    product (None disables the cap). Both extra passes are lazy branches
    of the same single action and see only the (normally empty) residual
    probe set.

    Construction itself runs Spark jobs on the fixed-ring path: an eager
    ``localCheckpoint`` of the primary top-k and ``isEmpty()`` on the
    probes it left unresolved.
    """
    if grid not in ("square", "hex"):
        raise ValueError(f"grid must be 'square' or 'hex', got {grid!r}")
    met_target = False
    if res is None:
        res, met_target = _auto_res_info(points, lon, lat, k)
    if fixed_ring is None and met_target:
        fixed_ring = 1
    cap = start_ring << (max_rounds - 1)
    g = _HexGrid(res) if grid == "hex" else _SquareGrid(res)

    pts = _with_merc(points, lon, lat, "_nx", "_ny").select(
        F.col(point_id).alias("_nid"),
        "_nx",
        "_ny",
        g.encode(lon, lat).alias("_ncell"),
    )
    prb = _with_merc(probes, lon, lat, "_px", "_py").select(
        F.col(probe_id).alias("_pid"),
        "_px",
        "_py",
        g.encode(lon, lat).alias("_pcell"),
    )
    if persist_points:
        pts = pts.persist()
    if broadcast_probes:
        maybe_bc = F.broadcast
    else:
        # broadcast_probes=False must actually FORCE the shuffled shape, not
        # merely omit the broadcast hint: AQE re-broadcasts the exploded
        # probe-cells side whenever its runtime bytes land under
        # autoBroadcastJoinThreshold, and the driver-side hash-relation
        # build of millions of exploded rows is then a serial term that
        # grows linearly with the probe count (measured at bench shape,
        # mult 64 / 128k probes: Amdahl serial 5.7s -> 2.4s and 2->8-core
        # paired efficiency 0.57 -> 0.76 once the joins are pinned to
        # shuffle_hash). shuffle_hash (not merge) keeps the build-side hash
        # semantics without sorting either side.
        def maybe_bc(df: DataFrame) -> DataFrame:
            return df.hint("shuffle_hash")
    w = Window.partitionBy("_pid").orderBy(F.col("dist2").asc(), F.col("_nid").asc())

    if fixed_ring is not None:
        # -- fixed-ring fast path: no histogram, no ring selection ----------
        # Certify-in-join at constant box fixed_ring (_certify_join holds
        # the certificate geometry); the within-r1c count rides the
        # candidate join's one shuffle.
        # topk feeds BOTH the result union and the unresolved anti-join's
        # broadcast build; without a materialization point the candidate
        # join + window pipeline executes twice inside the one action
        # (measured ~2x the whole operator's wall at bench scale). The
        # checkpoint is EAGER deliberately: under AQE a lazy checkpoint's
        # toRdd already materializes every query stage at construct time
        # (measured r08 — the "lazy" variant cost the same 0.6-0.7s here),
        # and an eager one lets the driver ask the cheap question below.
        topk = _certify_join(pts, prb, g, fixed_ring, k, maybe_bc, w)
        topk = topk.localCheckpoint(eager=True)
        unresolved = prb.join(maybe_bc(topk.select("_pid")), "_pid", "left_anti")
        # driver short-circuit: when the primary pass certified EVERY probe
        # (the overwhelmingly common case at a sane res — the density probe
        # targets >= k/2 points/cell exactly so box 1 certifies), the
        # escalation + brute-force branches are provably empty. Asking
        # isEmpty() here is one probe-side job over the already-
        # materialized checkpoint; skipping the two extra branches saves
        # their Catalyst planning + AQE stage materialization (~0.8s fixed
        # latency at bench shape) and a second full scan of the point side.
        # When probes remain, the branches are built exactly as before.
        if unresolved.isEmpty():
            return topk.select(
                F.col("_pid").alias(probe_id),
                F.col("_nid").alias(point_id),
                "dist2",
                "rank",
            )
        esc_ring = escalate_ring if escalate_ring is not None else max(2 * fixed_ring, 4)
        esc = _certify_join(pts, unresolved, g, esc_ring, k, maybe_bc, w)
        esc = esc.localCheckpoint(eager=False)
        residual = unresolved.join(
            maybe_bc(esc.select("_pid")), "_pid", "left_anti"
        )
        fallback = _guarded_bruteforce(residual, pts, k, w, max_fallback_probes)
        return topk.unionByName(esc).unionByName(fallback).select(
            F.col("_pid").alias(probe_id),
            F.col("_nid").alias(point_id),
            "dist2",
            "rank",
        )

    # -- histogram: points per cell (map-side combine keeps the shuffle tiny)
    hist = pts.groupBy(F.col("_ncell").alias("_hc")).agg(F.count("*").alias("_hn"))

    # -- ring selection: smallest box radius r1 holding >= k points ---------
    boxed = (
        prb.withColumn("_dx", F.explode(F.sequence(F.lit(-cap), F.lit(cap))))
        .withColumn(
            "_dy",
            F.explode(
                F.sequence(
                    g.db_lo(F.lit(cap), F.col("_dx")),
                    g.db_hi(F.lit(cap), F.col("_dx")),
                )
            ),
        )
        .withColumn("_ring", g.ring(F.col("_dx"), F.col("_dy")))
        .withColumn("_jc", g.shift(F.col("_pcell"), F.col("_dx"), F.col("_dy")))
        .filter(F.col("_jc").isNotNull())
        .select("_pid", "_px", "_py", "_pcell", "_ring", "_jc")
    )
    # ONE aggregation computes r1 = min ring with cumulative count >= k: the
    # per-probe (ring, cell-count) entries — at most (2*cap+1)^2 of them —
    # are collected into an array, ring-sorted, and folded with a running
    # sum. vs the groupBy(pid, ring) + cumulative window + groupBy(pid)
    # formulation this is one shuffle instead of three stage boundaries,
    # whose scheduling latency dominates at small probe counts. Crossing k
    # mid-ring still yields that ring (entries are ring-sorted), so r1 is
    # identical.
    ring_arr = F.array_sort(F.collect_list(F.struct(F.col("_ring"), F.col("_hn"))))
    fold = F.aggregate(
        ring_arr,
        F.struct(
            F.lit(0).cast("long").alias("cum"), F.lit(-1).cast("int").alias("r1")
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["_hn"]).alias("cum"),
            F.when(acc["r1"] >= 0, acc["r1"])
            .when(acc["cum"] + x["_hn"] >= k, x["_ring"].cast("int"))
            .otherwise(F.lit(-1))
            .alias("r1"),
        ),
    )
    # probe coords ride through the (tiny) boxed side so the resolved set
    # needs no second join back to prb — one fewer broadcast-build stage in
    # the action's critical path (stage latency dominates small-probe runs)
    r1 = (
        hist.join(maybe_bc(boxed), F.col("_hc") == F.col("_jc"), "inner")
        .groupBy("_pid")
        .agg(
            fold["r1"].alias("_r1"),
            F.first("_px").alias("_px"),
            F.first("_py").alias("_py"),
            F.first("_pcell").alias("_pcell"),
        )
        .filter(F.col("_r1") >= 0)
    )

    # -- certified candidate join at r2 = grid.r2_col(r1) -------------------
    resolved = r1.withColumn("_r2", g.r2_col(F.col("_r1")))
    probe_cells = (
        resolved.withColumn("_dx", F.explode(F.sequence(-F.col("_r2"), F.col("_r2"))))
        .withColumn(
            "_dy",
            F.explode(
                F.sequence(
                    g.db_lo(F.col("_r2"), F.col("_dx")),
                    g.db_hi(F.col("_r2"), F.col("_dx")),
                )
            ),
        )
        .withColumn("_jc", g.shift(F.col("_pcell"), F.col("_dx"), F.col("_dy")))
        .filter(F.col("_jc").isNotNull())
        .select("_pid", "_px", "_py", "_jc")
    )
    topk = (
        pts.join(maybe_bc(probe_cells), F.col("_ncell") == F.col("_jc"), "inner")
        .withColumn("dist2", _dist2())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("_pid", "_nid", "dist2", "rank")
    )

    # -- fallback: probes whose box `cap` holds < k points ------------------
    # one wider certify-in-join escalation (no histogram needed) before the
    # capped brute-force residual
    unresolved = prb.join(maybe_bc(r1), "_pid", "left_anti")
    esc_ring = escalate_ring if escalate_ring is not None else max(2 * cap, 4)
    esc = _certify_join(pts, unresolved, g, esc_ring, k, maybe_bc, w)
    esc = esc.localCheckpoint(eager=False)
    residual = unresolved.join(maybe_bc(esc.select("_pid")), "_pid", "left_anti")
    fallback = _guarded_bruteforce(residual, pts, k, w, max_fallback_probes)

    return topk.unionByName(esc).unionByName(fallback).select(
        F.col("_pid").alias(probe_id),
        F.col("_nid").alias(point_id),
        "dist2",
        "rank",
    )
