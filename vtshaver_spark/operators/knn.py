"""kNN join: every point row gets its k nearest landmarks.

``knn_join_broadcast`` is the one physical strategy: the landmark side
is dimension-sized, so it is collected once and shipped to a
``mapInArrow`` kernel that ranks each point's landmarks in numpy (a
grid-candidate pass, with an exact full sweep as the fallback). The
point side is never shuffled and no window runs; the k result columns
are exploded JVM-side with ``stack``. Distances are squared planar
degrees, the metric the DuckDB oracle replays bit-identically.
``caption_landmark_join`` is the caption-to-landmark name join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _build_lm_grid(lon: np.ndarray, lat: np.ndarray, kpad: int):
    """Per-cell exact-kNN candidate lists over the landmark bbox.

    A uniform grid (≈2 landmarks/cell) over the landmark bounding box;
    each cell's candidate list is every landmark within the smallest
    ring of cells holding >= kpad landmarks. A point assigned to cell c
    whose kpad-th candidate distance is strictly below its distance to
    the UNSEARCHED region is provably exact (no landmark outside the
    ring can be closer); the kernel checks that margin per point and
    falls back to the full GEMM sweep for the (rare) failures. Replaces
    O(m) distance work per point with O(kpad·const): the knn bench leg
    was O(points × landmarks) = O(sf²) and dominated the sf1.0 suite.

    Returns ``(cand, sx0, sx1, sy0, sy1, meta)`` — cand[c] holds
    global landmark indices (id-sorted order) padded with the sentinel
    index m (which the kernel's padded coordinate arrays place at
    ~4e18, so pad slots can never win a top-k slot); sx*/sy* are the
    searched-region bounds for the margin check, ±inf on sides where
    the ring reaches the grid edge (no landmarks exist beyond it).
    Returns None when the grid degenerates (clustered landmarks would
    make the candidate matrix approach the full m anyway).
    """
    m = lon.size
    bx0, bx1 = float(lon.min()), float(lon.max())
    by0, by1 = float(lat.min()), float(lat.max())
    # aspect-corrected cell grid (~2 landmarks/cell, SQUARE cells):
    # the exactness margin is min over axes, so a skewed cell shape
    # wastes candidates on the long axis while the short axis triggers
    # fallbacks (measured 27% fallback with a square CELL-COUNT grid
    # over the 360x160-degree bbox)
    ncells_target = max(1.0, m / 2.0)
    ex, ey = bx1 - bx0, by1 - by0
    if ex > 0 and ey > 0:
        side = (ex * ey / ncells_target) ** 0.5
        gx = int(max(1, min(1024, round(ex / side))))
        gy = int(max(1, min(1024, round(ey / side))))
    else:
        g = int(max(1, min(1024, round(ncells_target ** 0.5))))
        gx = g if ex > 0 else 1
        gy = g if ey > 0 else 1
    cw = ((bx1 - bx0) / gx) or 1.0
    ch = ((by1 - by0) / gy) or 1.0
    cx = np.clip(((lon - bx0) / cw).astype(np.int64), 0, gx - 1)
    cy = np.clip(((lat - by0) / ch).astype(np.int64), 0, gy - 1)
    cell = cx * gy + cy
    ncells = gx * gy
    perm = np.argsort(cell, kind="stable").astype(np.int32)
    counts = np.bincount(cell, minlength=ncells)
    offsets = np.zeros(ncells + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    # minimal ring radius per cell via a 2-D prefix sum over counts
    need = min(kpad, m)
    pre = np.zeros((gx + 1, gy + 1), dtype=np.int64)
    pre[1:, 1:] = counts.reshape(gx, gy).cumsum(axis=0).cumsum(axis=1)
    xs = np.arange(gx)[:, None]
    ys = np.arange(gy)[None, :]
    r2d = np.full((gx, gy), -1, dtype=np.int64)
    for r in range(max(gx, gy)):
        x0 = np.clip(xs - r, 0, gx - 1)
        x1 = np.clip(xs + r, 0, gx - 1)
        y0 = np.clip(ys - r, 0, gy - 1)
        y1 = np.clip(ys + r, 0, gy - 1)
        w = pre[x1 + 1, y1 + 1] - pre[x0, y1 + 1] - pre[x1 + 1, y0] + pre[x0, y0]
        r2d[(r2d < 0) & (w >= need)] = r
        if (r2d >= 0).all():
            break
    # one EXTRA ring beyond the kpad-satisfying radius: the margin a
    # point must clear is (ring - point offset in cell) cells; at the
    # minimal ring the typical kk-th neighbor distance is of the same
    # order as one cell, so ~27% of points failed the exactness check
    # and re-ran the full sweep. +1 ring costs ~2x candidates and
    # drops the fallback rate to ~0.1%.
    r2d += 1
    rflat = r2d.reshape(-1)
    lists = []
    width = 0
    for c in range(ncells):
        ccx, ccy = divmod(c, gy)
        r = int(rflat[c])
        x0c, x1c = max(ccx - r, 0), min(ccx + r, gx - 1)
        y0c, y1c = max(ccy - r, 0), min(ccy + r, gy - 1)
        # landmarks are CSR-sorted by (cx, cy): one contiguous slice
        # per grid row of the ring window
        lst = np.concatenate(
            [perm[offsets[xx * gy + y0c]: offsets[xx * gy + y1c + 1]]
             for xx in range(x0c, x1c + 1)]
        )
        lists.append(lst)
        if lst.size > width:
            width = lst.size
    if width >= m // 2 or width * ncells * 4 > (64 << 20):
        return None  # degenerate clustering: grid buys nothing
    cand = np.full((ncells, width), m, dtype=np.int32)
    for c, lst in enumerate(lists):
        cand[c, : lst.size] = lst
    cells_x = np.arange(ncells) // gy
    cells_y = np.arange(ncells) % gy
    sx0 = np.where(cells_x - rflat > 0, bx0 + (cells_x - rflat) * cw, -np.inf)
    sx1 = np.where(cells_x + rflat + 1 < gx, bx0 + (cells_x + rflat + 1) * cw, np.inf)
    sy0 = np.where(cells_y - rflat > 0, by0 + (cells_y - rflat) * ch, -np.inf)
    sy1 = np.where(cells_y + rflat + 1 < gy, by0 + (cells_y + rflat + 1) * ch, np.inf)
    return cand, sx0, sx1, sy0, sy1, (bx0, by0, 1.0 / cw, 1.0 / ch, gx, gy)


def knn_join_broadcast(points: DataFrame, landmarks: DataFrame, k: int = 3) -> DataFrame:
    """Exact kNN with a dimension-sized right side — MAP-ONLY, Arrow-
    vectorized. ``points`` and ``landmarks`` carry ``lon``/``lat``;
    ``landmarks`` also ``landmark_id``.

    The landmark table (collected once; it is broadcast-sized by
    definition) rides into a ``mapInPandas`` kernel; each Arrow batch
    computes distances in numpy and takes a stable argsort top-k. No
    shuffle, no window, no per-row Python.

    Physical-design note (measured at 1.2M x 100 on 32 cores): the
    crossJoin+window formulation shuffles and sorts N*M rows (spills);
    a Column array-expression formulation (transform/array_sort)
    executes Spark's higher-order lambdas INTERPRETED per element —
    both are >100x slower than this numpy kernel, which is exactly the
    "vectorized pandas/Arrow UDF, no per-row Python" shape the scale
    design calls for.

    Selection strategy (r6): with m >= 64 landmarks, a
    grid-candidate pass (``_build_lm_grid``) probes only the ~kpad
    landmarks near each point — O(1) in m instead of the full B x M
    GEMM, which made the knn leg O(sf²) (48s of the sf1.0 suite). A
    per-point margin check proves exactness; failures re-run the full
    GEMM sweep, so emitted (id, dist, tie-order) stay bit-identical to
    the naive kernel and the SQL oracle in every case.

    Output: point rows + rank (1..k), landmark_id, dist (squared
    degrees). Ties broken by landmark id (landmarks pre-sorted by id +
    stable argsort). Fewer than k landmarks yield one row per
    landmark; an empty landmark table yields no rows. ``k < 1`` raises
    ValueError before any job runs.
    """
    from pyspark.sql import types as T

    if k < 1:
        raise ValueError(f"knn_join_broadcast: k must be >= 1, got {k}")

    # Arrow-path collect (r6): row-object collect() of the landmark
    # table paid ~0.15s of py4j deserialization per call at 10k rows;
    # toPandas rides one Arrow batch (guide §6 "Arrow for driver
    # transfers"). Values are bit-identical; the id sort happens in
    # numpy.
    lm_pdf = landmarks.select("landmark_id", "lon", "lat").toPandas()
    order = np.argsort(lm_pdf["landmark_id"].to_numpy(np.int64), kind="stable")
    lm_id = lm_pdf["landmark_id"].to_numpy(np.int64)[order]
    lm_lon = lm_pdf["lon"].to_numpy(np.float64)[order]
    lm_lat = lm_pdf["lat"].to_numpy(np.float64)[order]
    kk = min(k, len(lm_id))
    m = len(lm_id)
    if m == 0:
        # stack(0, ...) does not parse: answer with the output schema
        return points.where(F.lit(False)).select(
            *points.columns,
            F.lit(1).alias("rank"),
            F.lit(0).cast("long").alias("landmark_id"),
            F.lit(0.0).alias("dist"),
        )

    wide_fields = list(points.schema.fields)
    for j in range(kk):
        wide_fields.append(T.StructField(f"_lid{j}", T.LongType(), False))
        wide_fields.append(T.StructField(f"_dist{j}", T.DoubleType(), False))
    wide_schema = T.StructType(wide_fields)

    # GEMM selection operands: dist_rank = -2*(p . l) + |l|^2 equals
    # the true squared distance minus the per-point constant |p|^2 —
    # identical RANKING, one BLAS sweep instead of three
    # subtract/square/add broadcasts (measured 6.5x on the warm
    # kernel). Exact distances are then recomputed in difference form
    # for ONLY the selected candidates, so the emitted values (and the
    # final tie-ordering) are bit-identical to the naive kernel and to
    # the SQL oracle's (a-b)*(a-b) formula.
    lm_ops = np.stack([-2.0 * lm_lon, -2.0 * lm_lat], axis=1).T.copy()  # 2 x m
    lm_sq = lm_lon * lm_lon + lm_lat * lm_lat
    kpad = min(m, kk + 8)  # selection pad: exact re-rank fixes any
    # fp-epsilon boundary swaps inside the padded candidate set

    grid = None
    if m >= 64:
        grid = _build_lm_grid(lm_lon, lm_lat, kpad)

    # closure capture below 4 MB, torrent broadcast above (per-task
    # RPC copies of a large landmark matrix would bottleneck the
    # driver; plans/broadcast.py)
    from vtshaver_spark.plans.broadcast import ship_arrays

    if grid is not None:
        g_cand, g_sx0, g_sx1, g_sy0, g_sy1, g_meta = grid
        g_bx0, g_by0, g_icw, g_ich, g_gx, g_gy = g_meta
        C = g_cand.shape[1]
        # sentinel slot m: pad candidates resolve to a far-away point,
        # so their distances (~1e37) can never enter a top-k that has
        # >= kpad real candidates — no mask needed in the hot loop
        lm_lon_pad = np.append(lm_lon, 4e18)
        lm_lat_pad = np.append(lm_lat, 4e18)
        get_lm = ship_arrays(
            points.sparkSession, lm_id, lm_lon, lm_lat, lm_ops, lm_sq,
            g_cand, g_sx0, g_sx1, g_sy0, g_sy1, lm_lon_pad, lm_lat_pad,
        )
    else:
        get_lm = ship_arrays(
            points.sparkSession, lm_id, lm_lon, lm_lat, lm_ops, lm_sq
        )

    # the kernel must capture only this FLAG, never `grid` itself —
    # referencing the tuple would close over the candidate arrays and
    # ship them in every task launch message, defeating ship_arrays'
    # torrent-broadcast threshold
    use_grid = grid is not None

    def kernel(batches):
        if use_grid:
            (lm_id, lm_lon, lm_lat, lm_ops, lm_sq,
             g_cand, g_sx0, g_sx1, g_sy0, g_sy1,
             lm_lon_pad, lm_lat_pad) = get_lm()
        else:
            lm_id, lm_lon, lm_lat, lm_ops, lm_sq = get_lm()
        # mapInArrow kernel. Disciplines measured on this VM:
        # (1) allocation-free math — concurrent first-touch faults on
        # fresh mmap'd arrays run ~100x slower than arithmetic, so the
        # (B x m) intermediate lives in a grow-only buffer written with
        # out=; (2) zero-copy passthrough — point columns (strings
        # included) are re-emitted as the SAME Arrow buffers, output is
        # WIDE (k lid/dist numeric pairs per point row) and the k-row
        # explosion happens JVM-side in codegen (stack).
        import pyarrow as pa

        # ROW-BLOCKED selection (r4): the (rows x m) distance block and
        # argpartition's internal copy stay cache-resident instead of
        # round-tripping DRAM (~4 MB per block vs 80+ MB per full
        # batch at m=1000). Measured under 8-way worker concurrency:
        # per-worker slowdown vs 2-way fell 13.5% -> 9% with an ~8%
        # absolute win — DRAM contention is what a packed executor
        # (and the hi-core bench leg) actually fights.
        if use_grid:
            wid = g_cand.shape[1]
            RB = max(256, min(8192, (4 << 20) // max(1, 8 * wid)))
        else:
            RB = max(256, min(4096, (4 << 20) // max(1, 8 * m)))
        cap = 0
        G = P = SEL = DSEL = DX = DY = None
        for rb in batches:
            b = rb.num_rows
            if b == 0:
                continue
            if b > cap:
                cap = max(b, 10000)
                if use_grid:
                    G = np.empty((min(RB, cap), wid))
                    DX = np.empty((min(RB, cap), wid))
                    DY = np.empty((min(RB, cap), wid))
                else:
                    G = np.empty((min(RB, cap), m))
                P = np.empty((min(RB, cap), 2))
                SEL = np.empty((cap, kk), dtype=np.int64)
                DSEL = np.empty((cap, kk))
            plon = rb.column("lon").to_numpy(zero_copy_only=False)
            plat = rb.column("lat").to_numpy(zero_copy_only=False)
            arrays = list(rb.columns)
            names = list(rb.schema.names)
            for s in range(0, b, RB):
                e = min(s + RB, b)
                n = e - s
                if use_grid:
                    pl = plon[s:e]
                    pt = plat[s:e]
                    pcx = np.clip(((pl - g_bx0) * g_icw).astype(np.int64), 0, g_gx - 1)
                    pcy = np.clip(((pt - g_by0) * g_ich).astype(np.int64), 0, g_gy - 1)
                    cells = pcx * g_gy + pcy
                    cnd = g_cand[cells]  # (n, wid) global landmark idx
                    dx = np.take(lm_lon_pad, cnd, out=DX[:n])
                    np.subtract(pl[:, None], dx, out=dx)
                    dy = np.take(lm_lat_pad, cnd, out=DY[:n])
                    np.subtract(pt[:, None], dy, out=dy)
                    d = np.multiply(dx, dx, out=G[:n])
                    np.multiply(dy, dy, out=dy)
                    d += dy
                    kp = min(wid, kpad)
                    idxp = np.argpartition(d, kp - 1, axis=1)[:, :kp]
                    de = np.take_along_axis(d, idxp, axis=1)
                    gidx = np.take_along_axis(cnd, idxp, axis=1).astype(np.int64)
                    order = np.lexsort((gidx, de), axis=1)[:, :kk]
                    SEL[s:e] = np.take_along_axis(gidx, order, axis=1)
                    DSEL[s:e] = np.take_along_axis(de, order, axis=1)
                    # exactness margin: distance to the nearest edge of
                    # the UNSEARCHED region (±inf sides = grid edge).
                    # 1e-9 guard absorbs the fp rounding slack between
                    # the landmark cell assignment and the region
                    # bounds; failures re-run the exact full sweep.
                    margin = np.minimum(
                        np.minimum(pl - g_sx0[cells], g_sx1[cells] - pl),
                        np.minimum(pt - g_sy0[cells], g_sy1[cells] - pt),
                    ) - 1e-9
                    bad = ~((margin > 0.0) & (DSEL[s:e, kk - 1] < margin * margin))
                    if bad.any():
                        bi = np.nonzero(bad)[0]
                        pb = np.empty((bi.size, 2))
                        pb[:, 0] = pl[bi]
                        pb[:, 1] = pt[bi]
                        gb = pb @ lm_ops + lm_sq[None, :]
                        idxb = np.argpartition(gb, kpad - 1, axis=1)[:, :kpad]
                        dxs = pb[:, 0][:, None] - lm_lon[idxb]
                        dys = pb[:, 1][:, None] - lm_lat[idxb]
                        deb = dxs * dxs + dys * dys
                        ob = np.lexsort((idxb, deb), axis=1)[:, :kk]
                        SEL[s:e][bi] = np.take_along_axis(idxb, ob, axis=1)
                        DSEL[s:e][bi] = np.take_along_axis(deb, ob, axis=1)
                    continue
                p = P[:n]
                p[:, 0] = plon[s:e]
                p[:, 1] = plat[s:e]
                g = G[:n]
                np.matmul(p, lm_ops, out=g)
                g += lm_sq[None, :]
                idx = np.argpartition(g, kpad - 1, axis=1)[:, :kpad]
                # exact difference-form distances for the candidates
                dxs = plon[s:e, None] - lm_lon[idx]
                dys = plat[s:e, None] - lm_lat[idx]
                de = dxs * dxs + dys * dys
                order = np.lexsort((idx, de), axis=1)[:, :kk]
                SEL[s:e] = np.take_along_axis(idx, order, axis=1)
                DSEL[s:e] = np.take_along_axis(de, order, axis=1)
            for j in range(kk):
                arrays.append(pa.array(lm_id[SEL[:b, j]]))
                names.append(f"_lid{j}")
                arrays.append(pa.array(DSEL[:b, j]))
                names.append(f"_dist{j}")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    wide = points.mapInArrow(kernel, schema=wide_schema)
    stack_args = ", ".join(
        f"{j + 1}, _lid{j}, _dist{j}" for j in range(kk)
    )
    return wide.selectExpr(
        *points.columns,
        f"stack({kk}, {stack_args}) AS (rank, landmark_id, dist)",
    ).withColumn("rank", F.col("rank").cast("int"))


def caption_landmark_join(images: DataFrame, landmarks: DataFrame) -> DataFrame:
    """Caption-to-landmark entity join: one row per image row and
    landmark whose name is a run of the caption's words (both split on
    single spaces).

    Scale-safe plan, built without running a job: explode each
    caption's distinct words (~n_tokens rows per image) and
    BroadcastHashJoin them against each landmark name's first word,
    then check the whole name on the matched pairs. A name's words are
    a run of the caption's words exactly when " name " is a substring of
    " caption ". Distinct words give each (image row, landmark) pair at
    most one candidate, however often the name recurs. The naive
    crossJoin+contains BNL is O(rows x landmarks) substring scans; this
    plan is O(rows x caption_words) hash probes, independent of
    landmark count.
    """
    lm = landmarks.select(
        F.col("landmark_id"),
        F.col("name").alias("_lm_name"),
        F.split(F.col("name"), " ")[0].alias("_lm_first"),
    )
    cand = images.withColumn(
        "_word", F.explode(F.array_distinct(F.split(F.col("caption"), " ")))
    )
    padded_caption = F.concat(F.lit(" "), cand["caption"], F.lit(" "))
    padded_name = F.concat(F.lit(" "), lm["_lm_name"], F.lit(" "))
    return (
        cand.join(
            F.broadcast(lm),
            (cand["_word"] == lm["_lm_first"]) & padded_caption.contains(padded_name),
        )
        .drop("_word", "_lm_name", "_lm_first")
    )
