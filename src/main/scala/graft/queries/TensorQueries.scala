package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tensor._

/** Driver-gated tensor operators (SURVEY.md §2A) over the events raster
  * (Images.eventsRaster: 48×64 grid, 16×16 chunks → 12 distributed
  * blocks). Each query runs the REAL distributed pipeline — rasterize →
  * halo exchange → kernel → pixel reduction — and each oracle reproduces
  * the stencil arithmetic relationally in DuckDB (neighborhood joins with
  * explicit reflect boundary index maps, recursive-CTE connected
  * components), so the per-pixel math is hash-checked end to end.
  */
object TensorQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Shared oracle prelude: the dense raster grid. */
  private[queries] val gridCte: String =
    """px AS (
      |  SELECT CAST(user_id % 48 AS INT) AS i,
      |         CAST((epoch_ns(ts) // 3600000000000) % 64 AS INT) AS j,
      |         sum(value) AS v
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT CAST(gi.i AS INT) AS i, CAST(gj.j AS INT) AS j, coalesce(px.v, 0) AS v
      |  FROM (SELECT unnest(range(0, 48)) AS i) gi
      |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) gj
      |  LEFT JOIN px ON gi.i = px.i AND gj.j = px.j)""".stripMargin

  /** reflect-mode index map (single reflection; radius < grid dims). */
  private def refl(x: String, n: Int): String =
    s"CASE WHEN $x < 0 THEN -($x) - 1 WHEN $x >= $n THEN 2*$n - 1 - ($x) ELSE $x END"

  /** `+ 0.0` normalizes IEEE −0.0 to +0.0 — a signed stencil output that
    * rounds to zero would otherwise hash differently across engines. */
  private def pixelsOut(ds: org.apache.spark.sql.Dataset[Block]): DataFrame =
    Images.toPixels(ds)
      .select(col("i"), col("j"), (round(col("v"), 4) + lit(0.0)).as("v"))
      .orderBy(col("i"), col("j"))

  // ------------------------------------------------------ uniform filter
  val tensorUniform3: Q = (s, dir) =>
    pixelsOut(Filters.uniformFilter(Images.eventsRaster(s, dir), Seq(3, 3)))

  val tensorUniform3Sql: String =
    s"""WITH $gridCte,
       |offs AS (SELECT a.di, b.dj FROM (SELECT unnest([-1,0,1]) AS di) a
       |         CROSS JOIN (SELECT unnest([-1,0,1]) AS dj) b)
       |SELECT g.i, g.j, round(sum(n.v) / 9, 4) AS v
       |FROM grid g CROSS JOIN offs o
       |JOIN grid n ON n.i = ${refl("g.i + o.di", 48)} AND n.j = ${refl("g.j + o.dj", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------------------ gaussian
  val tensorGaussian: Q = (s, dir) =>
    pixelsOut(Filters.gaussianFilter(Images.eventsRaster(s, dir), Seq(1.5, 1.5)))

  val tensorGaussianSql: String =
    s"""WITH $gridCte,
       |wr AS (SELECT d, exp(-0.5 * d * d / 2.25) AS w0
       |       FROM (SELECT unnest(range(-6, 7)) AS d)),
       |wn AS (SELECT d, w0 / (SELECT sum(w0) FROM wr) AS w FROM wr),
       |p1 AS (
       |  SELECT g.i, g.j, sum(n.v * wn.w) AS v
       |  FROM grid g CROSS JOIN wn
       |  JOIN grid n ON n.i = ${refl("g.i + wn.d", 48)} AND n.j = g.j
       |  GROUP BY g.i, g.j)
       |SELECT g.i, g.j, round(sum(n.v * wn.w), 4) AS v
       |FROM p1 g CROSS JOIN wn
       |JOIN p1 n ON n.i = g.i AND n.j = ${refl("g.j + wn.d", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------------------ order stats
  /** min and max 3×3 filters in one result frame — fused over ONE halo
    * exchange (r22, guide §2.4): both extrema come off the same padded
    * block, so the second full-raster exchange and the pixel-level join
    * of the two frames are gone; values bit-identical. */
  val tensorMinmax3: Q = (s, dir) =>
    Filters.minmaxPixels(Images.eventsRaster(s, dir), Seq(3, 3))
      .select(col("i"), col("j"),
        round(col("va"), 4).as("vmin"), round(col("vb"), 4).as("vmax"))
      .orderBy(col("i"), col("j"))

  val tensorMinmax3Sql: String =
    s"""WITH $gridCte,
       |offs AS (SELECT a.di, b.dj FROM (SELECT unnest([-1,0,1]) AS di) a
       |         CROSS JOIN (SELECT unnest([-1,0,1]) AS dj) b)
       |SELECT g.i, g.j, round(min(n.v), 4) AS vmin, round(max(n.v), 4) AS vmax
       |FROM grid g CROSS JOIN offs o
       |JOIN grid n ON n.i = ${refl("g.i + o.di", 48)} AND n.j = ${refl("g.j + o.dj", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------------- typed uint8 payloads
  /** 3×3 min+max filters on a NATIVE uint8 image (SURVEY §1.1/§1.2 typed
    * payloads): the events raster is quantized with the imread fixture
    * formula (round(100·v) mod 256), encoded to 1-byte/pixel [[TBlock]]s,
    * then halo-exchanged AND filtered entirely in the byte domain
    * (TFilters unsigned-compare running extrema — order statistics are
    * dtype-preserving, so float64 never appears); only the final pixel
    * frame widens to BIGINT for the oracle. The halo shuffle payload is
    * BINARY at 1 byte/element — 8× less traffic than the float64 Block
    * path on the same image; TensorSpec pins the byte widths. */
  val tensorUint8Minmax: Q = (s, dir) =>
    // fused over ONE typed halo exchange (r22) — see tensorMinmax3
    TFilters.minmaxPixelsU8(u8Raster(s, dir), Seq(3, 3))
      .orderBy(col("i"), col("j"))

  /** The events raster quantized to a native uint8 TBlock image. */
  private[graft] def u8Raster(s: SparkSession, dir: String) = {
    import s.implicits._
    TBlock.fromBlocks(
      Images.eventsRaster(s, dir).map { b =>
        b.copy(data = b.data.map(v =>
          (((math.round(v * 100) % 256) + 256) % 256).toDouble))
      }, DType.U8)
  }

  /** A FLOAT kernel over the typed uint8 image: 3×3 box mean through
    * `Filters.uniformFilterTyped` — native bytes on the halo wire,
    * double math at the kernel edge, float64 output so the oracle stays
    * exact (the f32-output promotion variant is spec-only: its last-ulp
    * error vs double could flip 4-dp rounding at hash time). */
  val tensorUint8Uniform3: Q = (s, dir) =>
    pixelsOut(TBlock.toBlocks(
      Filters.uniformFilterTyped(u8Raster(s, dir), Seq(3, 3))))

  val tensorUint8Uniform3Sql: String =
    s"""WITH $gridCte,
       |q AS (SELECT i, j,
       |        (CAST(round(v * 100) AS BIGINT) % 256 + 256) % 256 AS u
       |      FROM grid),
       |offs AS (SELECT a.di, b.dj FROM (SELECT unnest([-1,0,1]) AS di) a
       |         CROSS JOIN (SELECT unnest([-1,0,1]) AS dj) b)
       |SELECT g.i, g.j, round(sum(n.u) / 9, 4) AS v
       |FROM q g CROSS JOIN offs o
       |JOIN q n ON n.i = ${refl("g.i + o.di", 48)} AND n.j = ${refl("g.j + o.dj", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  /** The same float kernel over the 16-BIT (microscopy-depth) image:
    * halo wire carries 2 bytes/px native uint16 (vs 8 for float64), the
    * kernel decodes at the edge — proves the promote-on-compute path is
    * dtype-generic, not a uint8 special case. */
  val tensorUint16Uniform3: Q = (s, dir) =>
    pixelsOut(TBlock.toBlocks(
      Filters.uniformFilterTyped(u16Raster(s, dir), Seq(3, 3))))

  /** The events raster quantized to a native uint16 TBlock image
    * (×1000 mod 65536 — provably exercises the high byte, same formula
    * as the uint16 store fixture). */
  private[graft] def u16Raster(s: SparkSession, dir: String) = {
    import s.implicits._
    TBlock.fromBlocks(
      Images.eventsRaster(s, dir).map { b =>
        b.copy(data = b.data.map(v =>
          (((math.round(v * 1000) % 65536) + 65536) % 65536).toDouble))
      }, DType.U16)
  }

  val tensorUint16Uniform3Sql: String =
    s"""WITH $gridCte,
       |q AS (SELECT i, j,
       |        (CAST(round(v * 1000) AS BIGINT) % 65536 + 65536) % 65536 AS u
       |      FROM grid),
       |offs AS (SELECT a.di, b.dj FROM (SELECT unnest([-1,0,1]) AS di) a
       |         CROSS JOIN (SELECT unnest([-1,0,1]) AS dj) b)
       |SELECT g.i, g.j, round(sum(n.u) / 9, 4) AS v
       |FROM q g CROSS JOIN offs o
       |JOIN q n ON n.i = ${refl("g.i + o.di", 48)} AND n.j = ${refl("g.j + o.dj", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  val tensorUint8MinmaxSql: String =
    s"""WITH $gridCte,
       |q AS (SELECT i, j,
       |        (CAST(round(v * 100) AS BIGINT) % 256 + 256) % 256 AS u
       |      FROM grid),
       |offs AS (SELECT a.di, b.dj FROM (SELECT unnest([-1,0,1]) AS di) a
       |         CROSS JOIN (SELECT unnest([-1,0,1]) AS dj) b)
       |SELECT g.i, g.j, min(n.u) AS vmin, max(n.u) AS vmax
       |FROM q g CROSS JOIN offs o
       |JOIN q n ON n.i = ${refl("g.i + o.di", 48)} AND n.j = ${refl("g.j + o.dj", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------------------ median
  val tensorMedian3: Q = (s, dir) =>
    pixelsOut(Filters.medianFilter(Images.eventsRaster(s, dir), Seq(3, 3)))

  val tensorMedian3Sql: String =
    s"""WITH $gridCte,
       |offs AS (SELECT a.di, b.dj FROM (SELECT unnest([-1,0,1]) AS di) a
       |         CROSS JOIN (SELECT unnest([-1,0,1]) AS dj) b)
       |SELECT g.i, g.j, round(median(n.v), 4) AS v
       |FROM grid g CROSS JOIN offs o
       |JOIN grid n ON n.i = ${refl("g.i + o.di", 48)} AND n.j = ${refl("g.j + o.dj", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------------------ rank family
  /** rank_filter(rank=2) over 3×3 — k-th order statistic; oracle indexes
    * the sorted window list. */
  val tensorRank3: Q = (s, dir) =>
    pixelsOut(Filters.rankFilter(Images.eventsRaster(s, dir), 2, Seq(3, 3)))

  private def windowListCte: String =
    s"""offs AS (SELECT a.di, b.dj FROM (SELECT unnest([-1,0,1]) AS di) a
       |         CROSS JOIN (SELECT unnest([-1,0,1]) AS dj) b),
       |win AS (
       |  SELECT g.i, g.j, list(n.v ORDER BY n.v) AS w
       |  FROM grid g CROSS JOIN offs o
       |  JOIN grid n ON n.i = ${refl("g.i + o.di", 48)} AND n.j = ${refl("g.j + o.dj", 64)}
       |  GROUP BY g.i, g.j)""".stripMargin

  val tensorRank3Sql: String =
    s"""WITH $gridCte,
       |$windowListCte
       |SELECT i, j, round(w[3], 4) AS v FROM win ORDER BY i, j""".stripMargin

  /** percentile_filter(30%) over 3×3 — rank = round(0.30·8) = 2 (0-based)
    * → 3rd smallest. */
  val tensorPercentile30: Q = (s, dir) =>
    pixelsOut(Filters.percentileFilter(Images.eventsRaster(s, dir), 30.0, Seq(3, 3)))

  val tensorPercentile30Sql: String =
    s"""WITH $gridCte,
       |$windowListCte
       |SELECT i, j, round(w[3], 4) AS v FROM win ORDER BY i, j""".stripMargin

  /** generic_filter with a user lambda (window range = max − min) — the
    * arbitrary-Scala-function extension point, driver-gated. */
  val tensorGenericRange: Q = (s, dir) =>
    pixelsOut(Filters.genericFilter(Images.eventsRaster(s, dir),
      w => w.max - w.min, Seq(3, 3)))

  val tensorGenericRangeSql: String =
    s"""WITH $gridCte,
       |$windowListCte
       |SELECT i, j, round(w[9] - w[1], 4) AS v FROM win ORDER BY i, j""".stripMargin

  // ------------------------------------------------- convolve / correlate
  /** convolve + correlate with one ASYMMETRIC 3×3 kernel in one frame —
    * the flip between the two is exactly what the oracle's two weight
    * lists encode, so kernel orientation is hash-gated. Integer weights
    * on 2-decimal data keep every output an exact 2-decimal value. */
  private val ccKernel: Array[Double] =
    Array(1.0, 2.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 3.0)

  val tensorConvCorr: Q = (s, dir) =>
    // fused over ONE halo exchange (r22) — correlate and the flipped-
    // kernel convolve read the same padded block; see tensorMinmax3
    Filters.convCorrPixels(Images.eventsRaster(s, dir), Nd.of(Array(3, 3), ccKernel))
      .select(col("i"), col("j"),
        (round(col("va"), 2) + lit(0.0)).as("vcorr"),
        (round(col("vb"), 2) + lit(0.0)).as("vconv"))
      .orderBy(col("i"), col("j"))

  /** correlate: tap (di,dj) weights w[di+1][dj+1]; convolve: the flipped
    * kernel, w[1−di][1−dj]. */
  val tensorConvCorrSql: String =
    s"""WITH $gridCte,
       |offs AS (SELECT unnest([-1,-1,-1, 0,0,0, 1,1,1]) AS di,
       |                unnest([-1,0,1, -1,0,1, -1,0,1]) AS dj,
       |                unnest([1.0,2.0,0.0, 0.0,1.0,0.0, 0.0,0.0,3.0]) AS wc,
       |                unnest([3.0,0.0,0.0, 0.0,1.0,0.0, 0.0,2.0,1.0]) AS wv)
       |SELECT g.i, g.j,
       |  round(sum(n.v * o.wc), 2) + 0 AS vcorr,
       |  round(sum(n.v * o.wv), 2) + 0 AS vconv
       |FROM grid g CROSS JOIN offs o
       |JOIN grid n ON n.i = ${refl("g.i + o.di", 48)} AND n.j = ${refl("g.j + o.dj", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------------------ laplace
  val tensorLaplace: Q = (s, dir) =>
    pixelsOut(Filters.laplace(Images.eventsRaster(s, dir)))

  val tensorLaplaceSql: String =
    s"""WITH $gridCte
       |SELECT g.i, g.j,
       |  round(ni.v + pi.v + nj.v + pj.v - 4 * g.v, 4) + 0 AS v
       |FROM grid g
       |JOIN grid ni ON ni.i = ${refl("g.i - 1", 48)} AND ni.j = g.j
       |JOIN grid pi ON pi.i = ${refl("g.i + 1", 48)} AND pi.j = g.j
       |JOIN grid nj ON nj.i = g.i AND nj.j = ${refl("g.j - 1", 64)}
       |JOIN grid pj ON pj.i = g.i AND pj.j = ${refl("g.j + 1", 64)}
       |ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------------------ sobel
  val tensorSobel: Q = (s, dir) =>
    pixelsOut(Filters.sobel(Images.eventsRaster(s, dir), axis = 0))

  /** sobel axis 0: derivative [−1,0,1] on i (correlate: tap d applies to
    * i+d with weight d), smoothing [1,2,1] on j. */
  val tensorSobelSql: String =
    s"""WITH $gridCte,
       |di AS (SELECT unnest([-1, 0, 1]) AS d, unnest([-1.0, 0.0, 1.0]) AS w),
       |dj AS (SELECT unnest([-1, 0, 1]) AS d, unnest([1.0, 2.0, 1.0]) AS w),
       |p1 AS (
       |  SELECT g.i, g.j, sum(n.v * di.w) AS v
       |  FROM grid g CROSS JOIN di
       |  JOIN grid n ON n.i = ${refl("g.i + di.d", 48)} AND n.j = g.j
       |  GROUP BY g.i, g.j)
       |SELECT g.i, g.j, round(sum(n.v * dj.w), 4) + 0 AS v
       |FROM p1 g CROSS JOIN dj
       |JOIN p1 n ON n.i = g.i AND n.j = ${refl("g.j + dj.d", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------------------ prewitt
  val tensorPrewitt: Q = (s, dir) =>
    pixelsOut(Filters.prewitt(Images.eventsRaster(s, dir), axis = 0))

  /** prewitt axis 0: derivative [−1,0,1] on i, smoothing [1,1,1] on j. */
  val tensorPrewittSql: String =
    s"""WITH $gridCte,
       |di AS (SELECT unnest([-1, 0, 1]) AS d, unnest([-1.0, 0.0, 1.0]) AS w),
       |dj AS (SELECT unnest([-1, 0, 1]) AS d, unnest([1.0, 1.0, 1.0]) AS w),
       |p1 AS (
       |  SELECT g.i, g.j, sum(n.v * di.w) AS v
       |  FROM grid g CROSS JOIN di
       |  JOIN grid n ON n.i = ${refl("g.i + di.d", 48)} AND n.j = g.j
       |  GROUP BY g.i, g.j)
       |SELECT g.i, g.j, round(sum(n.v * dj.w), 4) + 0 AS v
       |FROM p1 g CROSS JOIN dj
       |JOIN p1 n ON n.i = g.i AND n.j = ${refl("g.j + dj.d", 64)}
       |GROUP BY g.i, g.j ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------- gaussian derivative ops
  /** gaussian_gradient_magnitude + gaussian_laplace (σ=1.5) in one frame.
    * Oracle kernels: w0 = φ/Σφ (the passing tensor_gaussian kernel),
    * w1(d) = (d/σ²)·w0(d), w2(d) = (d²/σ⁴ − 1/σ²)·w0(d) — scipy's
    * polynomial-derivative construction with the correlate tap order. */
  val tensorGaussianDerivs: Q = (s, dir) =>
    // fused over ONE halo exchange (r22) — both derivative pipelines
    // read the same radius-6 padded block; see tensorMinmax3
    Filters.gaussianDerivPixels(Images.eventsRaster(s, dir), Seq(1.5, 1.5))
      .select(col("i"), col("j"),
        round(col("va"), 4).as("ggm"),
        (round(col("vb"), 4) + lit(0.0)).as("glap"))
      .orderBy(col("i"), col("j"))

  val tensorGaussianDerivsSql: String =
    s"""WITH $gridCte,
       |wr AS (SELECT d, exp(-0.5 * d * d / 2.25) AS w0
       |       FROM (SELECT unnest(range(-6, 7)) AS d)),
       |wn AS (SELECT d, w0 / (SELECT sum(w0) FROM wr) AS w FROM wr),
       |w1 AS (SELECT d, (d / 2.25) * w AS w FROM wn),
       |w2 AS (SELECT d, (d * d / 5.0625 - 1 / 2.25) * w AS w FROM wn),
       |a1 AS (SELECT g.i, g.j, sum(n.v * k.w) AS v FROM grid g CROSS JOIN w1 k
       |  JOIN grid n ON n.i = ${refl("g.i + k.d", 48)} AND n.j = g.j GROUP BY g.i, g.j),
       |a2 AS (SELECT g.i, g.j, sum(n.v * k.w) AS v FROM a1 g CROSS JOIN wn k
       |  JOIN a1 n ON n.i = g.i AND n.j = ${refl("g.j + k.d", 64)} GROUP BY g.i, g.j),
       |b1 AS (SELECT g.i, g.j, sum(n.v * k.w) AS v FROM grid g CROSS JOIN wn k
       |  JOIN grid n ON n.i = ${refl("g.i + k.d", 48)} AND n.j = g.j GROUP BY g.i, g.j),
       |b2 AS (SELECT g.i, g.j, sum(n.v * k.w) AS v FROM b1 g CROSS JOIN w1 k
       |  JOIN b1 n ON n.i = g.i AND n.j = ${refl("g.j + k.d", 64)} GROUP BY g.i, g.j),
       |c1 AS (SELECT g.i, g.j, sum(n.v * k.w) AS v FROM grid g CROSS JOIN w2 k
       |  JOIN grid n ON n.i = ${refl("g.i + k.d", 48)} AND n.j = g.j GROUP BY g.i, g.j),
       |c2 AS (SELECT g.i, g.j, sum(n.v * k.w) AS v FROM c1 g CROSS JOIN wn k
       |  JOIN c1 n ON n.i = g.i AND n.j = ${refl("g.j + k.d", 64)} GROUP BY g.i, g.j),
       |d2 AS (SELECT g.i, g.j, sum(n.v * k.w) AS v FROM b1 g CROSS JOIN w2 k
       |  JOIN b1 n ON n.i = g.i AND n.j = ${refl("g.j + k.d", 64)} GROUP BY g.i, g.j)
       |SELECT a2.i, a2.j,
       |  round(sqrt(a2.v * a2.v + b2.v * b2.v), 4) AS ggm,
       |  round(c2.v + d2.v, 4) + 0 AS glap
       |FROM a2 JOIN b2 ON a2.i = b2.i AND a2.j = b2.j
       |        JOIN c2 ON a2.i = c2.i AND a2.j = c2.j
       |        JOIN d2 ON a2.i = d2.i AND a2.j = d2.j
       |ORDER BY a2.i, a2.j""".stripMargin

  // ------------------------------------------------------ threshold_local
  /** threshold_local(block_size=3, method=mean, offset=0.005): the 0.005
    * offset guarantees no exact ties — 9·v − Σ₉v is a multiple of 0.01 on
    * this data, so |v − (mean − 0.005)| ≥ 0.00055 ≫ float wobble. */
  val tensorThresholdLocal: Q = (s, dir) => {
    val th = Filters.thresholdLocal(Images.eventsRaster(s, dir), 2, 3,
      method = "mean", offset = 0.005)
    Images.toPixels(th)
      .select(col("i"), col("j"), col("v").cast("long").as("flag"))
      .orderBy(col("i"), col("j"))
  }

  val tensorThresholdLocalSql: String =
    s"""WITH $gridCte,
       |offs AS (SELECT a.di, b.dj FROM (SELECT unnest([-1,0,1]) AS di) a
       |         CROSS JOIN (SELECT unnest([-1,0,1]) AS dj) b),
       |sm AS (
       |  SELECT g.i, g.j, sum(n.v) / 9 AS v
       |  FROM grid g CROSS JOIN offs o
       |  JOIN grid n ON n.i = ${refl("g.i + o.di", 48)} AND n.j = ${refl("g.j + o.dj", 64)}
       |  GROUP BY g.i, g.j)
       |SELECT g.i, g.j,
       |  CAST(CASE WHEN g.v > sm.v - 0.005 THEN 1 ELSE 0 END AS BIGINT) AS flag
       |FROM grid g JOIN sm ON g.i = sm.i AND g.j = sm.j
       |ORDER BY g.i, g.j""".stripMargin

  // ------------------------------------------------------ morphology
  /** Binary pipeline counts: threshold → erosion/dilation/opening with the
    * cross structure, border constant 0 — one row of totals. */
  val tensorMorphCounts: Q = (s, dir) => {
    val spark = s
    val bin = Filters.mapBlocks(Images.eventsRaster(s, dir)) { b =>
      b.data.map(v => if (v > 150.0) 1.0 else 0.0)
    }
    def cnt(ds: org.apache.spark.sql.Dataset[Block], name: String): DataFrame =
      Images.toPixels(ds).agg(sum(col("v")).cast("long").as(name))
    cnt(bin, "n_fg")
      .crossJoin(cnt(Morph.binaryErosion(bin, 2), "n_eroded"))
      .crossJoin(cnt(Morph.binaryDilation(bin, 2), "n_dilated"))
      .crossJoin(cnt(Morph.binaryOpening(bin, 2), "n_opened"))
      .crossJoin(cnt(Morph.binaryClosing(bin, 2), "n_closed"))
  }

  /** Byte-domain form of [[tensorMorphCounts]]: the thresholded mask is
    * encoded as a native uint8 TBlock image and every morphology pass —
    * halo exchange included — stays 1 byte/pixel (TMorph); only the final
    * count widens. The float key runs the same TMorph kernel over BOOL
    * payloads, so both keys check against the same oracle. */
  val tensorUint8Morph: Q = (s, dir) => {
    val bin = TBlock.fromBlocks(Filters.mapBlocks(Images.eventsRaster(s, dir)) { b =>
      b.data.map(v => if (v > 150.0) 1.0 else 0.0)
    }, DType.U8)
    def cnt(ds: org.apache.spark.sql.Dataset[TBlock], name: String): DataFrame =
      Images.toPixels(TBlock.toBlocks(ds)).agg(sum(col("v")).cast("long").as(name))
    cnt(bin, "n_fg")
      .crossJoin(cnt(TMorph.binaryErosion(bin, 2), "n_eroded"))
      .crossJoin(cnt(TMorph.binaryDilation(bin, 2), "n_dilated"))
      .crossJoin(cnt(TMorph.binaryOpening(bin, 2), "n_opened"))
      .crossJoin(cnt(TMorph.binaryClosing(bin, 2), "n_closed"))
  }

  val tensorMorphCountsSql: String =
    s"""WITH $gridCte,
       |bin AS (SELECT i, j, CASE WHEN v > 150 THEN 1 ELSE 0 END AS b FROM grid),
       |offs AS (SELECT unnest([0, -1, 1, 0, 0]) AS di, unnest([0, 0, 0, -1, 1]) AS dj),
       |ero AS (
       |  SELECT c.i, c.j, min(coalesce(n.b, 0)) AS b
       |  FROM bin c CROSS JOIN offs o
       |  LEFT JOIN bin n ON n.i = c.i + o.di AND n.j = c.j + o.dj
       |  GROUP BY c.i, c.j),
       |dil AS (
       |  SELECT c.i, c.j, max(coalesce(n.b, 0)) AS b
       |  FROM bin c CROSS JOIN offs o
       |  LEFT JOIN bin n ON n.i = c.i + o.di AND n.j = c.j + o.dj
       |  GROUP BY c.i, c.j),
       |opn AS (
       |  SELECT c.i, c.j, max(coalesce(n.b, 0)) AS b
       |  FROM ero c CROSS JOIN offs o
       |  LEFT JOIN ero n ON n.i = c.i + o.di AND n.j = c.j + o.dj
       |  GROUP BY c.i, c.j),
       |clo AS (
       |  SELECT c.i, c.j, min(coalesce(n.b, 0)) AS b
       |  FROM dil c CROSS JOIN offs o
       |  LEFT JOIN dil n ON n.i = c.i + o.di AND n.j = c.j + o.dj
       |  GROUP BY c.i, c.j)
       |SELECT (SELECT CAST(sum(b) AS BIGINT) FROM bin) AS n_fg,
       |       (SELECT CAST(sum(b) AS BIGINT) FROM ero) AS n_eroded,
       |       (SELECT CAST(sum(b) AS BIGINT) FROM dil) AS n_dilated,
       |       (SELECT CAST(sum(b) AS BIGINT) FROM opn) AS n_opened,
       |       (SELECT CAST(sum(b) AS BIGINT) FROM clo) AS n_closed""".stripMargin

  // ------------------------------------------------------ label + measure
  /** Distributed connected components + labeled measurements in one
    * result: per component (scan-order label), area, center of mass, and
    * mean raster value. The oracle recomputes CC with a recursive CTE. */
  val tensorLabelStats: Q = (s, dir) => {
    val raster = Images.eventsRaster(s, dir)
    val bin = Filters.mapBlocks(raster)(b => b.data.map(v => if (v > 150.0) 1.0 else 0.0))
    val (labels, _) = Measure.label(bin, 2, connectivity = 1)
    // raster values are exact 2-decimal sums, so rounding each label sum
    // to 2 decimals makes it bit-identical across engines BEFORE the
    // divisions — otherwise avg() of order-dependent float sums lands on
    // .5 round boundaries (events values have 2 decimals) and the 4th
    // decimal flips between engines. Block-partial fold (r22): the sums
    // arrive as ≤ #labels·#blocks partials instead of one Spark row per
    // pixel; the 2-dp rounding absorbs the regrouped summation order the
    // same way it absorbs the engines' orders.
    Measure.labelWeightedSums(raster, labels, 2)
      .select(col("label"), col("area"),
        round(col("sv"), 2).as("sv"),
        round(col("s0"), 2).as("s0"),
        round(col("s1"), 2).as("s1"))
      .select(col("label"), col("area"),
        round(col("s0") / col("sv"), 4).as("com_i"),
        round(col("s1") / col("sv"), 4).as("com_j"),
        round(col("sv") / col("area"), 4).as("mean_v"))
      .orderBy(col("label"))
  }

  /** Typed-label twin of [[tensorLabelStats]]: the CC label image — an
    * INTEGER image by nature — is packed to native int32 TBlocks (4
    * bytes/px, not 8), persisted through the typed tensor store, read
    * back, and measured. Same oracle as the float path: storage dtype
    * must be measurement-invisible. At 100 TB the label raster is often
    * larger than the source image set; halving it is the difference
    * between a label store that fits its tier and one that doesn't. */
  val tensorLabelI32Store: Q = (s, dir) => {
    val raster = Images.eventsRaster(s, dir)
    val bin = Filters.mapBlocks(raster)(b => b.data.map(v => if (v > 150.0) 1.0 else 0.0))
    val (labels, _) = Measure.label(bin, 2, connectivity = 1)
    val store = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_tensor_store_lab_${math.abs(dir.hashCode)}").toString
    graft.sources.TensorStore.writeTyped(TBlock.fromBlocks(labels, DType.I32), store)
    val back = graft.sources.TensorStore.read(s, store)
    // block-partial fold, as tensorLabelStats (r22)
    Measure.labelWeightedSums(raster, back, 2)
      .select(col("label"), col("area"),
        round(col("sv"), 2).as("sv"),
        round(col("s0"), 2).as("s0"),
        round(col("s1"), 2).as("s1"))
      .select(col("label"), col("area"),
        round(col("s0") / col("sv"), 4).as("com_i"),
        round(col("s1") / col("sv"), 4).as("com_j"),
        round(col("sv") / col("area"), 4).as("mean_v"))
      .orderBy(col("label"))
  }

  /** find_objects gate: per-label bounding boxes over the standard CC
    * pipeline (threshold → label → bbox group-by). The oracle reuses the
    * recursive-CTE CC and takes min/max of each coordinate per label. */
  val tensorFindObjects: Q = (s, dir) => {
    val raster = Images.eventsRaster(s, dir)
    val bin = Filters.mapBlocks(raster)(b => b.data.map(v => if (v > 150.0) 1.0 else 0.0))
    val (labels, _) = Measure.label(bin, 2, connectivity = 1)
    Measure.findObjects(labels, 2)
  }

  val tensorFindObjectsSql: String =
    s"""WITH RECURSIVE $gridCte,
       |bin AS (SELECT i, j FROM grid WHERE v > 150),
       |reach(i, j, ri, rj) AS (
       |  SELECT i, j, i, j FROM bin
       |  UNION
       |  SELECT r.i, r.j, n.i, n.j
       |  FROM reach r JOIN bin n
       |    ON abs(n.i - r.ri) + abs(n.j - r.rj) = 1),
       |comp AS (
       |  SELECT i, j, min(ri * 64 + rj) AS root FROM reach GROUP BY i, j),
       |lab AS (
       |  SELECT i, j, dense_rank() OVER (ORDER BY root) AS label FROM comp)
       |SELECT CAST(label AS BIGINT) AS label,
       |  CAST(min(i) AS BIGINT) AS min_0, CAST(max(i) AS BIGINT) AS max_0,
       |  CAST(min(j) AS BIGINT) AS min_1, CAST(max(j) AS BIGINT) AS max_1
       |FROM lab GROUP BY label ORDER BY label""".stripMargin

  val tensorLabelStatsSql: String =
    s"""WITH RECURSIVE $gridCte,
       |bin AS (SELECT i, j FROM grid WHERE v > 150),
       |reach(i, j, ri, rj) AS (
       |  SELECT i, j, i, j FROM bin
       |  UNION
       |  SELECT r.i, r.j, n.i, n.j
       |  FROM reach r JOIN bin n
       |    ON abs(n.i - r.ri) + abs(n.j - r.rj) = 1),
       |comp AS (
       |  SELECT i, j, min(ri * 64 + rj) AS root FROM reach GROUP BY i, j),
       |lab AS (
       |  SELECT i, j, dense_rank() OVER (ORDER BY root) AS label FROM comp),
       |sums AS (
       |  SELECT CAST(lab.label AS BIGINT) AS label, count(*) AS area,
       |    round(sum(g.v), 2) AS sv,
       |    round(sum(lab.i * g.v), 2) AS s0,
       |    round(sum(lab.j * g.v), 2) AS s1
       |  FROM lab JOIN grid g ON lab.i = g.i AND lab.j = g.j
       |  GROUP BY lab.label)
       |SELECT label, area,
       |  round(s0 / sv, 4) AS com_i,
       |  round(s1 / sv, 4) AS com_j,
       |  round(sv / area, 4) AS mean_v
       |FROM sums ORDER BY label""".stripMargin

  // ------------------------------------------------------ fourier ops
  /** fftfreq as SQL (n even here): i/n below n/2, else (i−n)/n. */
  private def freq(x: String, n: Int): String =
    s"(CASE WHEN $x < ${(n + 1) / 2} THEN $x / $n.0 ELSE ($x - $n) / $n.0 END)"

  /** fourier_gaussian over the raster treated as an (already-FFT'd)
    * spectrum — elementwise transfer function of global frequencies;
    * real input ⇒ real output. Runs the TYPED complex128 path (native
    * f64-pair payloads, dtype recorded — r10): the kernel math is
    * bit-identical to the float64 Block path, so the oracle is
    * unchanged; InterpFourierSpec pins the two paths equal. */
  val tensorFourierGaussian: Q = (s, dir) => {
    val cx = graft.tensor.TBlock.toBlocks(Fourier.fourierGaussianTyped(
      Fourier.toComplexTyped(Images.eventsRaster(s, dir), graft.tensor.DType.C128),
      Seq(2.0, 2.0)))
    Images.toPixels(cx)
      .filter(col("j") % 2 === 0)
      .select(col("i"), (col("j") / 2).cast("int").as("j"), round(col("v"), 4).as("v"))
      .orderBy(col("i"), col("j"))
  }

  val tensorFourierGaussianSql: String =
    s"""WITH $gridCte
       |SELECT i, j, round(v * exp(-2 * pi() * pi() *
       |  (4 * ${freq("i", 48)} * ${freq("i", 48)} +
       |   4 * ${freq("j", 64)} * ${freq("j", 64)})), 4) AS v
       |FROM grid ORDER BY i, j""".stripMargin

  /** fourier_shift — complex phase ramp; emits (re, im) per pixel.
    * Typed complex128 path (see tensorFourierGaussian). */
  val tensorFourierShift: Q = (s, dir) => {
    val cx = graft.tensor.TBlock.toBlocks(Fourier.fourierShiftTyped(
      Fourier.toComplexTyped(Images.eventsRaster(s, dir), graft.tensor.DType.C128),
      Seq(1.5, -0.5)))
    val px = Images.toPixels(cx)
    val re = px.filter(col("j") % 2 === 0)
      .select(col("i"), (col("j") / 2).cast("int").as("j"),
        (round(col("v"), 4) + lit(0.0)).as("re"))
    val im = px.filter(col("j") % 2 === 1)
      .select(col("i").as("i2"), ((col("j") - 1) / 2).cast("int").as("j2"),
        (round(col("v"), 4) + lit(0.0)).as("im"))
    re.join(im, col("i") === col("i2") && col("j") === col("j2"))
      .select(col("i"), col("j"), col("re"), col("im"))
      .orderBy(col("i"), col("j"))
  }

  val tensorFourierShiftSql: String =
    s"""WITH $gridCte
       |SELECT i, j,
       |  round(v * cos(-2 * pi() * (${freq("i", 48)} * 1.5 + ${freq("j", 64)} * -0.5)), 4) + 0 AS re,
       |  round(v * sin(-2 * pi() * (${freq("i", 48)} * 1.5 + ${freq("j", 64)} * -0.5)), 4) + 0 AS im
       |FROM grid ORDER BY i, j""".stripMargin

  // ------------------------------------------------------ fourier_uniform
  /** fourier_uniform(size=(3,3)) — Π sinc(size·f) box spectrum.
    * Typed complex128 path (see tensorFourierGaussian). */
  val tensorFourierUniform: Q = (s, dir) => {
    val cx = graft.tensor.TBlock.toBlocks(Fourier.fourierUniformTyped(
      Fourier.toComplexTyped(Images.eventsRaster(s, dir), graft.tensor.DType.C128),
      Seq(3.0, 3.0)))
    Images.toPixels(cx)
      .filter(col("j") % 2 === 0)
      .select(col("i"), (col("j") / 2).cast("int").as("j"),
        (round(col("v"), 4) + lit(0.0)).as("v"))
      .orderBy(col("i"), col("j"))
  }

  val tensorFourierUniformSql: String =
    s"""WITH $gridCte
       |SELECT i, j, round(v *
       |  (CASE WHEN i = 0 THEN 1.0
       |        ELSE sin(3 * pi() * ${freq("i", 48)}) / (3 * pi() * ${freq("i", 48)}) END) *
       |  (CASE WHEN j = 0 THEN 1.0
       |        ELSE sin(3 * pi() * ${freq("j", 64)}) / (3 * pi() * ${freq("j", 64)}) END),
       |  4) + 0 AS v
       |FROM grid ORDER BY i, j""".stripMargin

  /** complex64 spectrum path — the HALF-WIDTH wire format (8 B per
    * complex pixel, f32 components; ImageSourceSpec-style byte pin in
    * TensorSpec). No decimal rounding: the oracle emulates the exact
    * f32 arithmetic — input components quantize to REAL on lift (NumPy
    * astype(complex64) semantics, round-to-nearest-even), the transfer
    * multiply runs in double, the result rounds back to REAL and widens
    * to DOUBLE — so both engines emit bit-identical doubles. Residual
    * risk, accepted: JVM exp vs DuckDB exp can differ by ~1 double ulp
    * (2⁻⁵² rel); the f32 rounding absorbs that unless the product sits
    * within an ulp of an f32 boundary — ≈2⁻²⁸ per element, ~1e-5 per
    * 3072-pixel run. Every decimal-rounding alternative has a LARGER
    * boundary-straddle probability, so this is the robust form. */
  val tensorFourierC64: Q = (s, dir) => {
    val cx = graft.tensor.TBlock.toBlocks(Fourier.fourierGaussianTyped(
      Fourier.toComplexTyped(Images.eventsRaster(s, dir), graft.tensor.DType.C64),
      Seq(2.0, 2.0)))
    Images.toPixels(cx)
      .filter(col("j") % 2 === 0)
      .select(col("i"), (col("j") / 2).cast("int").as("j"), col("v"))
      .orderBy(col("i"), col("j"))
  }

  val tensorFourierC64Sql: String =
    s"""WITH $gridCte
       |SELECT i, j, CAST(CAST(CAST(v AS REAL) * exp(-2 * pi() * pi() *
       |  (4 * ${freq("i", 48)} * ${freq("i", 48)} +
       |   4 * ${freq("j", 64)} * ${freq("j", 64)})) AS REAL) AS DOUBLE) AS v
       |FROM grid ORDER BY i, j""".stripMargin

  // ------------------------------------------------------ spline filters
  /** spline_filter gate via the interpolation identity: the order-3
    * prefilter followed by B-spline reconstruction at the integer grid
    * (separable correlate with [1/6, 4/6, 1/6], mirror boundary — the
    * prefilter's boundary) reproduces the input exactly. The oracle is
    * the raster itself; a wrong pole, gain, or boundary breaks the hash.
    * (A no-op would also round-trip — SplineSpec pins the actual
    * coefficient values against scipy fixtures.) */
  val tensorSplineRoundtrip: Q = (s, dir) => {
    // 24×32 chunks: the order-3 IIR tail needs an 18-deep halo, which must
    // fit inside one neighbor chunk (the same rechunk-before-spline rule
    // the reference documents)
    val c = Interp.splineFilter(Images.eventsRaster(s, dir, ch = 24, cw = 32), 2, order = 3)
    val k = Nd.of(Array(3, 3),
      Array(1.0, 4.0, 1.0, 4.0, 16.0, 4.0, 1.0, 4.0, 1.0).map(_ / 36.0))
    Images.toPixels(Filters.correlate(c, k, mode = "mirror"))
      .select(col("i"), col("j"), (round(col("v"), 2) + lit(0.0)).as("v"))
      .orderBy(col("i"), col("j"))
  }

  /** Order-2 sibling of the roundtrip gate: quadratic prefilter followed
    * by reconstruction with B₂ at the integer grid — separable
    * [1/8, 6/8, 1/8] (B₂(0)=¾, B₂(±1)=⅛). Same identity, different pole
    * (√8−3) and basis; a wrong pole/gain/depth for order 2 breaks it. */
  val tensorSpline2Roundtrip: Q = (s, dir) => {
    val c = Interp.splineFilter(Images.eventsRaster(s, dir, ch = 24, cw = 32), 2, order = 2)
    val k = Nd.of(Array(3, 3),
      Array(1.0, 6.0, 1.0, 6.0, 36.0, 6.0, 1.0, 6.0, 1.0).map(_ / 64.0))
    Images.toPixels(Filters.correlate(c, k, mode = "mirror"))
      .select(col("i"), col("j"), (round(col("v"), 2) + lit(0.0)).as("v"))
      .orderBy(col("i"), col("j"))
  }

  /** spline_filter1d gate: same identity along axis 1 only. */
  val tensorSpline1dRoundtrip: Q = (s, dir) => {
    val c = Interp.splineFilter1d(Images.eventsRaster(s, dir, ch = 24, cw = 32), 2,
      order = 3, axis = 1)
    val k = Nd.of(Array(1, 3), Array(1.0 / 6.0, 4.0 / 6.0, 1.0 / 6.0))
    Images.toPixels(Filters.correlate(c, k, mode = "mirror"))
      .select(col("i"), col("j"), (round(col("v"), 2) + lit(0.0)).as("v"))
      .orderBy(col("i"), col("j"))
  }

  val tensorSplineRoundtripSql: String =
    s"""WITH $gridCte
       |SELECT i, j, round(v, 2) + 0 AS v FROM grid ORDER BY i, j""".stripMargin

  // ------------------------------------------------------ affine / rotate
  /** Order-1 affine subpixel shift by (0.5, 0.25) — the gather-join
    * resampling path; oracle is the explicit 4-tap bilinear blend. */
  val tensorAffineShift: Q = (s, dir) => {
    val out = Interp.affineTransform(Images.eventsRaster(s, dir), 2,
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), Array(0.5, 0.25), order = 1, cval = 0.0)
    // bilinear weights ⅜/⅛ on 2-decimal data give exactly-5-decimal
    // values: round to 6 (round-4 would sit on .5 boundaries)
    Images.toPixels(out)
      .select(col("i"), col("j"), (round(col("v"), 6) + lit(0.0)).as("v"))
      .orderBy(col("i"), col("j"))
  }

  val tensorAffineShiftSql: String =
    s"""WITH $gridCte
       |SELECT g.i, g.j,
       |  round(0.375 * coalesce(a.v, 0) + 0.125 * coalesce(b.v, 0) +
       |        0.375 * coalesce(c.v, 0) + 0.125 * coalesce(d.v, 0), 6) + 0 AS v
       |FROM grid g
       |LEFT JOIN grid a ON a.i = g.i     AND a.j = g.j
       |LEFT JOIN grid b ON b.i = g.i     AND b.j = g.j + 1
       |LEFT JOIN grid c ON c.i = g.i + 1 AND c.j = g.j
       |LEFT JOIN grid d ON d.i = g.i + 1 AND d.j = g.j + 1
       |ORDER BY g.i, g.j""".stripMargin

  /** The SAME subpixel shift over the NATIVE uint8 raster through the
    * typed gather (r10): the needs join ships 1 byte/pixel — 8× less
    * shuffle than the float key's F64 view of the same gather — with
    * blocks decoded at the kernel edge; f64 output keeps the 4-tap
    * blend oracle exact. */
  val tensorAffineU8: Q = (s, dir) => {
    val out = Interp.affineTransformTyped(u8Raster(s, dir), 2,
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), Array(0.5, 0.25),
      order = 1, cval = 0.0, outDtype = graft.tensor.DType.F64)
    Images.toPixels(TBlock.toBlocks(out))
      .select(col("i"), col("j"), (round(col("v"), 6) + lit(0.0)).as("v"))
      .orderBy(col("i"), col("j"))
  }

  val tensorAffineU8Sql: String =
    s"""WITH $gridCte,
       |q AS (SELECT i, j,
       |        (CAST(round(v * 100) AS BIGINT) % 256 + 256) % 256 AS u
       |      FROM grid)
       |SELECT g.i, g.j,
       |  round(0.375 * coalesce(a.u, 0) + 0.125 * coalesce(b.u, 0) +
       |        0.375 * coalesce(c.u, 0) + 0.125 * coalesce(d.u, 0), 6) + 0 AS v
       |FROM q g
       |LEFT JOIN q a ON a.i = g.i     AND a.j = g.j
       |LEFT JOIN q b ON b.i = g.i     AND b.j = g.j + 1
       |LEFT JOIN q c ON c.i = g.i + 1 AND c.j = g.j
       |LEFT JOIN q d ON d.i = g.i + 1 AND d.j = g.j + 1
       |ORDER BY g.i, g.j""".stripMargin

  /** rotate 90° with reshape — an exact permutation, so the whole
    * matrix/center/gather pipeline is hash-checked with no tolerance. */
  val tensorRotate90: Q = (s, dir) => {
    val out = Interp.rotate(Images.eventsRaster(s, dir), 2, 90.0,
      axes = (0, 1), reshape = true, order = 1, cval = 0.0)
    pixelsOut(out)
  }

  val tensorRotate90Sql: String =
    s"""WITH $gridCte
       |SELECT CAST(64 - 1 - g.j AS INT) AS i, CAST(g.i AS INT) AS j, round(g.v, 4) AS v
       |FROM grid g ORDER BY i, j""".stripMargin

  /** rotate 30° with reshape, order 1 — the ARBITRARY-angle gate (r16):
    * closes the §2A partial where only the degenerate 90° permutation
    * was oracled. Every output pixel takes a genuine 4-tap bilinear
    * blend at an irrational source coordinate, so the hash pins the
    * rotation matrix, center convention, reshape bbox (48×64 → 74×79),
    * block gather, and blend arithmetic end to end. */
  val tensorRotate30: Q = (s, dir) => {
    val out = Interp.rotate(Images.eventsRaster(s, dir), 2, 30.0,
      axes = (0, 1), reshape = true, order = 1, cval = 0.0)
    pixelsOut(out)
  }

  /** Formula-replay oracle: the inverse map in = R·(out − outC) + inC and
    * the floor-corner bilinear blend, replayed relationally. The matrix /
    * offset constants are EMBEDDED as full-precision double literals
    * computed by the same Scala expressions [[graft.tensor.Interp]] uses
    * (Double.toString round-trips, DuckDB parses to the identical bits),
    * and the blend accumulates in the kernel's corner order — so the two
    * engines run bit-identical arithmetic up to the round(…, 4). */
  val tensorRotate30Sql: String = {
    val rad = math.toRadians(30.0)
    val c = math.cos(rad); val sn = math.sin(rad)
    val (h, w) = (48, 64)
    val oh = math.round(h * math.abs(c) + w * math.abs(sn)).toInt
    val ow = math.round(h * math.abs(sn) + w * math.abs(c)).toInt
    val inC0 = (h - 1) / 2.0; val inC1 = (w - 1) / 2.0
    val outC0 = (oh - 1) / 2.0; val outC1 = (ow - 1) / 2.0
    val off0 = inC0 - c * outC0 - sn * outC1
    val off1 = inC1 + sn * outC0 - c * outC1
    s"""WITH $gridCte,
       |oc AS (SELECT CAST(a.i AS INT) AS oi, CAST(b.j AS INT) AS oj
       |       FROM (SELECT unnest(range(0, $oh)) AS i) a
       |       CROSS JOIN (SELECT unnest(range(0, $ow)) AS j) b),
       |f AS (SELECT oi, oj, x0, x1,
       |        CAST(floor(x0) AS INT) AS f0, CAST(floor(x1) AS INT) AS f1
       |      FROM (SELECT oi, oj,
       |              (CAST('$off0' AS DOUBLE) + CAST('$c' AS DOUBLE) * oi)
       |                + CAST('$sn' AS DOUBLE) * oj AS x0,
       |              (CAST('$off1' AS DOUBLE) + CAST('${-sn}' AS DOUBLE) * oi)
       |                + CAST('$c' AS DOUBLE) * oj AS x1
       |            FROM oc))
       |SELECT f.oi AS i, f.oj AS j,
       |  round(((1 - (x0 - f0)) * (1 - (x1 - f1))) * coalesce(p00.v, 0) +
       |        ((1 - (x0 - f0)) * (x1 - f1)) * coalesce(p01.v, 0) +
       |        ((x0 - f0) * (1 - (x1 - f1))) * coalesce(p10.v, 0) +
       |        ((x0 - f0) * (x1 - f1)) * coalesce(p11.v, 0), 4) + 0.0 AS v
       |FROM f
       |LEFT JOIN grid p00 ON p00.i = f0     AND p00.j = f1
       |LEFT JOIN grid p01 ON p01.i = f0     AND p01.j = f1 + 1
       |LEFT JOIN grid p10 ON p10.i = f0 + 1 AND p10.j = f1
       |LEFT JOIN grid p11 ON p11.i = f0 + 1 AND p11.j = f1 + 1
       |ORDER BY i, j""".stripMargin
  }

  // ------------------------------------------------------ 3-d pipeline
  /** 3-d gate: events rasterized onto (user%12, hour%16, weekday-ish%4)
    * and smoothed with a 3×3×3 box — proves the halo exchange + kernels
    * are rank-generic under the driver gate, not just in specs. */
  val tensor3dUniform: Q = (s, dir) => {
    val px = graft.Tables.t(s, dir, "events")
      .select((col("user_id") % 12).cast("int").as("i"),
        (expr("ts_ns div 3600000000000") % 16).cast("int").as("j"),
        (expr("ts_ns div 86400000000000") % 4).cast("int").as("k"),
        col("value"))
      .groupBy("i", "j", "k").agg(sum("value").as("v"))
    val spark = s
    import spark.implicits._
    // assemble 12×16×4 grid as 6×8×2 chunks (8 blocks)
    val keyed = px.select(
      (col("i") / 6).cast("int").as("bi"), (col("j") / 8).cast("int").as("bj"),
      (col("k") / 2).cast("int").as("bk"),
      col("i").cast("int"), col("j").cast("int"), col("k").cast("int"),
      col("v").cast("double"))
      .as[(Int, Int, Int, Int, Int, Int, Double)]
    val blocks = keyed.groupByKey(r => (r._1, r._2, r._3))
      .mapGroups { (key: (Int, Int, Int), it: Iterator[(Int, Int, Int, Int, Int, Int, Double)]) =>
        val (bi, bj, bk) = key
        val data = new Array[Double](6 * 8 * 2)
        for ((_, _, _, i, j, k, v) <- it)
          data((i - bi * 6) * 16 + (j - bj * 8) * 2 + (k - bk * 2)) = v
        Block("e3", Seq(bi, bj, bk), Seq(bi * 6, bj * 8, bk * 2),
          Seq(6, 8, 2), Seq(6, 8, 2), Seq(12, 16, 4), data)
      }
    // missing blocks (all grid cells empty) still required for density
    val all = spark.createDataset(for (bi <- 0 until 2; bj <- 0 until 2; bk <- 0 until 2)
      yield (bi, bj, bk))
    val missing = all.except(blocks.map(b => (b.idx(0), b.idx(1), b.idx(2))))
      .map { case (bi, bj, bk) =>
        Block("e3", Seq(bi, bj, bk), Seq(bi * 6, bj * 8, bk * 2),
          Seq(6, 8, 2), Seq(6, 8, 2), Seq(12, 16, 4), new Array[Double](96))
      }
    val sm = Filters.uniformFilter(blocks.union(missing), Seq(3, 3, 3))
    sm.flatMap { b =>
      val nd = Nd.of(b.shape.toArray, b.data)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Double)]
      nd.foreachCoord(c => buf += ((b.origin(0) + c(0), b.origin(1) + c(1),
        b.origin(2) + c(2), nd(c))))
      buf
    }.toDF("i", "j", "k", "v")
      .select(col("i"), col("j"), col("k"), (round(col("v"), 4) + lit(0.0)).as("v"))
      .orderBy(col("i"), col("j"), col("k"))
  }

  val tensor3dUniformSql: String =
    s"""WITH px3 AS (
       |  SELECT CAST(user_id % 12 AS INT) AS i,
       |         CAST((epoch_ns(ts) // 3600000000000) % 16 AS INT) AS j,
       |         CAST((epoch_ns(ts) // 86400000000000) % 4 AS INT) AS k,
       |         sum(value) AS v
       |  FROM events GROUP BY 1, 2, 3),
       |grid3 AS (
       |  SELECT CAST(gi.i AS INT) AS i, CAST(gj.j AS INT) AS j, CAST(gk.k AS INT) AS k,
       |         coalesce(px3.v, 0) AS v
       |  FROM (SELECT unnest(range(0, 12)) AS i) gi
       |  CROSS JOIN (SELECT unnest(range(0, 16)) AS j) gj
       |  CROSS JOIN (SELECT unnest(range(0, 4)) AS k) gk
       |  LEFT JOIN px3 ON gi.i = px3.i AND gj.j = px3.j AND gk.k = px3.k),
       |offs AS (SELECT a.di, b.dj, c.dk
       |  FROM (SELECT unnest([-1,0,1]) AS di) a
       |  CROSS JOIN (SELECT unnest([-1,0,1]) AS dj) b
       |  CROSS JOIN (SELECT unnest([-1,0,1]) AS dk) c)
       |SELECT g.i, g.j, g.k, round(sum(n.v) / 27, 4) + 0 AS v
       |FROM grid3 g CROSS JOIN offs o
       |JOIN grid3 n ON n.i = ${refl("g.i + o.di", 12)}
       |  AND n.j = ${refl("g.j + o.dj", 16)}
       |  AND n.k = ${refl("g.k + o.dk", 4)}
       |GROUP BY g.i, g.j, g.k ORDER BY g.i, g.j, g.k""".stripMargin

  // ------------------------------------------------ extended measurements
  /** The remaining ndmeasure reductions, driver-gated in one result: per
    * label min/max/median of the raster value, population variance (from
    * exactly-rounded sums — cross-engine Welford vs naive is not
    * hash-stable), argmin/argmax positions with the scipy first-encounter
    * tiebreak, and a 4-bin histogram bincount. */
  val tensorMeasureExtended: Q = (s, dir) => {
    val raster = Images.eventsRaster(s, dir)
    val bin = Filters.mapBlocks(raster)(b => b.data.map(v => if (v > 150.0) 1.0 else 0.0))
    val (labels, _) = Measure.label(bin, 2, connectivity = 1)
    val px = Measure.labeledPixels(raster, labels, 2).filter(col("label") =!= 0)
      .withColumn("ridx", col("c0") * 64 + col("c1"))
    px.groupBy(col("label"))
      .agg(
        round(min(col("value")), 4).as("min_v"),
        round(max(col("value")), 4).as("max_v"),
        // +0.0 kills IEEE −0.0; an even-count median of 2-decimal values is
        // an exact 3-decimal value, so round-4 never sits on a boundary
        (round(expr("percentile(value, 0.5)"), 4) + lit(0.0)).as("median_v"),
        round(sum(col("value")), 2).as("sv"),
        // v has 2 decimals ⇒ v² has exactly 4: round at 4 (round-2 lands on
        // true .xx5 boundaries ~1% of the time and the engines' summation
        // order decides the flip — the round-1 hash failure)
        round(sum(col("value") * col("value")), 4).as("svv"),
        count(lit(1)).as("n"),
        min_by(col("ridx"), struct(col("value"), col("ridx"))).as("argmin"),
        min_by(col("ridx"), struct(negate(col("value")), col("ridx"))).as("argmax"),
        sum(when(col("value") < 175, 1L).otherwise(0L)).as("bin0"),
        sum(when(col("value") >= 175 && col("value") < 350, 1L).otherwise(0L)).as("bin1"))
      .select(col("label"), col("min_v"), col("max_v"), col("median_v"),
        (round(col("svv") / col("n") - (col("sv") / col("n")) * (col("sv") / col("n")), 4)
          + lit(0.0)).as("var_v"),
        col("argmin"), col("argmax"), col("bin0"), col("bin1"))
      .orderBy(col("label"))
  }

  /** Shared oracle prelude for all labeled-measurement queries: recursive
    * -CTE connected components over the >150 threshold, labeled pixels
    * with the C-order ravel index. */
  private val labelPixelsCte: String =
    s"""$gridCte,
       |bin AS (SELECT i, j FROM grid WHERE v > 150),
       |reach(i, j, ri, rj) AS (
       |  SELECT i, j, i, j FROM bin
       |  UNION
       |  SELECT r.i, r.j, n.i, n.j
       |  FROM reach r JOIN bin n
       |    ON abs(n.i - r.ri) + abs(n.j - r.rj) = 1),
       |comp AS (
       |  SELECT i, j, min(ri * 64 + rj) AS root FROM reach GROUP BY i, j),
       |lab AS (
       |  SELECT i, j, dense_rank() OVER (ORDER BY root) AS label FROM comp),
       |lpx AS (
       |  SELECT CAST(lab.label AS BIGINT) AS label, lab.i, lab.j, g.v,
       |    lab.i * 64 + lab.j AS ridx
       |  FROM lab JOIN grid g ON lab.i = g.i AND lab.j = g.j)""".stripMargin

  val tensorMeasureExtendedSql: String =
    s"""WITH RECURSIVE $labelPixelsCte
       |SELECT label,
       |  round(min(v), 4) AS min_v,
       |  round(max(v), 4) AS max_v,
       |  round(median(v), 4) + 0 AS median_v,
       |  round(round(sum(v * v), 4) / count(*)
       |        - (round(sum(v), 2) / count(*)) * (round(sum(v), 2) / count(*)), 4) + 0 AS var_v,
       |  CAST(min(CASE WHEN v = (SELECT min(v2.v) FROM lpx v2 WHERE v2.label = lpx.label)
       |       THEN ridx END) AS BIGINT) AS argmin,
       |  CAST(min(CASE WHEN v = (SELECT max(v2.v) FROM lpx v2 WHERE v2.label = lpx.label)
       |       THEN ridx END) AS BIGINT) AS argmax,
       |  CAST(sum(CASE WHEN v < 175 THEN 1 ELSE 0 END) AS BIGINT) AS bin0,
       |  CAST(sum(CASE WHEN v >= 175 AND v < 350 THEN 1 ELSE 0 END) AS BIGINT) AS bin1
       |FROM lpx GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------------ center of mass
  /** Measure.centerOfMass — Σ(coordᵢ·v)/Σv per axis and label. The
    * quotient of the two double sums is rounded at 6 dp (+0.0 for −0.0):
    * cross-engine sum-order drift is ~1e-13 relative, far inside the
    * rounding grain. */
  val tensorCenterOfMass: Q = (s, dir) => {
    val raster = Images.eventsRaster(s, dir)
    val bin = Filters.mapBlocks(raster)(b => b.data.map(v => if (v > 150.0) 1.0 else 0.0))
    val (labels, _) = Measure.label(bin, 2, connectivity = 1)
    Measure.centerOfMass(raster, labels, 2)
      .select(col("label"),
        (round(col("com0"), 6) + lit(0.0)).as("com_i"),
        (round(col("com1"), 6) + lit(0.0)).as("com_j"))
      .orderBy(col("label"))
  }

  val tensorCenterOfMassSql: String =
    s"""WITH RECURSIVE $labelPixelsCte
       |SELECT label,
       |  round(sum(i * v) / sum(v), 6) + 0 AS com_i,
       |  round(sum(j * v) / sum(v), 6) + 0 AS com_j
       |FROM lpx GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------------ extrema
  /** Measure.extrema — (min, max, min_pos, max_pos) in ONE aggregation
    * pass, scipy first-encounter tiebreak. */
  val tensorExtrema: Q = (s, dir) => {
    val raster = Images.eventsRaster(s, dir)
    val bin = Filters.mapBlocks(raster)(b => b.data.map(v => if (v > 150.0) 1.0 else 0.0))
    val (labels, _) = Measure.label(bin, 2, connectivity = 1)
    Measure.extrema(raster, labels, 2, Seq(48, 64))
      .filter(col("label") =!= 0)
      .select(col("label"),
        round(col("min"), 4).as("min_v"), round(col("max"), 4).as("max_v"),
        col("min_pos.c0").cast("long").as("min_i"), col("min_pos.c1").cast("long").as("min_j"),
        col("max_pos.c0").cast("long").as("max_i"), col("max_pos.c1").cast("long").as("max_j"))
      .orderBy(col("label"))
  }

  val tensorExtremaSql: String =
    s"""WITH RECURSIVE $labelPixelsCte,
       |ext AS (
       |  SELECT label, round(min(v), 4) AS min_v, round(max(v), 4) AS max_v,
       |    min(CASE WHEN v = (SELECT min(v2.v) FROM lpx v2 WHERE v2.label = lpx.label)
       |        THEN ridx END) AS am,
       |    min(CASE WHEN v = (SELECT max(v2.v) FROM lpx v2 WHERE v2.label = lpx.label)
       |        THEN ridx END) AS ax
       |  FROM lpx GROUP BY label)
       |SELECT label, min_v, max_v,
       |  CAST(am // 64 AS BIGINT) AS min_i, CAST(am % 64 AS BIGINT) AS min_j,
       |  CAST(ax // 64 AS BIGINT) AS max_i, CAST(ax % 64 AS BIGINT) AS max_j
       |FROM ext ORDER BY label""".stripMargin

  // ------------------------------------------- labeled_comprehension
  /** labeled_comprehension with an arbitrary Scala reduction (sum of the
    * two largest values per label) — the per-label UDAF extension point,
    * hash-gated against the SQL top-2 window equivalent. */
  val tensorLabelComprehension: Q = (s, dir) => {
    val raster = Images.eventsRaster(s, dir)
    val bin = Filters.mapBlocks(raster)(b => b.data.map(v => if (v > 150.0) 1.0 else 0.0))
    val (labels, _) = Measure.label(bin, 2, connectivity = 1)
    Measure.labeledComprehension(raster, labels, 2) { it =>
      it.toArray.sorted.takeRight(2).sum
    }
      .filter(col("label") =!= 0)
      .select(col("label"), (round(col("result"), 2) + lit(0.0)).as("top2_sum"))
      .orderBy(col("label"))
  }

  val tensorLabelComprehensionSql: String =
    s"""WITH RECURSIVE $labelPixelsCte,
       |rnk AS (
       |  SELECT label, v,
       |    row_number() OVER (PARTITION BY label ORDER BY v DESC) AS rn
       |  FROM lpx)
       |SELECT label, round(sum(v), 2) + 0 AS top2_sum
       |FROM rnk WHERE rn <= 2 GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- maps
  // ------------------------------------------------------ tensor store
  /** Write the events raster to a block-tensor store (`to_zarr` analog),
    * read it back restricted to leading grid indices 1..2 — a restriction
    * that lands as a PartitionFilter on the parquet scan, so only those
    * chunk files are opened — and emit the pixels. Gates write/read
    * fidelity plus source-level chunk pruning; the oracle recomputes the
    * same grid slice (rows 16..47 at 16-row chunks) from events. */
  val tensorStoreRoundtrip: Q = (s, dir) => {
    val store = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_tensor_store_${math.abs(dir.hashCode)}").toString
    graft.sources.TensorStore.write(Images.eventsRaster(s, dir), store)
    pixelsOut(graft.sources.TensorStore.read(s, store, frameRange = Some((1, 2))))
  }

  val tensorStoreRoundtripSql: String =
    s"""WITH $gridCte
       |SELECT i, j, round(v, 4) + 0.0 AS v FROM grid
       |WHERE i >= 16 ORDER BY i, j""".stripMargin

  /** Typed-store twin: the uint8-quantized raster goes through the store
    * in its NATIVE dtype (1 byte/pixel on disk, `dtype:"uint8"` in the
    * manifest — asserted in TensorStoreSpec) and comes back byte-exact
    * with the same frame-range partition pruning. */
  val tensorStoreUint8Roundtrip: Q = (s, dir) => {
    val store = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_tensor_store_u8_${math.abs(dir.hashCode)}").toString
    graft.sources.TensorStore.writeTyped(u8Raster(s, dir), store)
    val spark = s
    import spark.implicits._
    graft.sources.TensorStore.readTyped(s, store, frameRange = Some((1, 2)))
      .flatMap { b =>
        val h = b.shape(0); val w = b.shape(1)
        for (i <- 0 until h; j <- 0 until w)
          yield (b.origin(0) + i, b.origin(1) + j, (b.data(i * w + j) & 0xff).toLong)
      }.toDF("i", "j", "u")
      .orderBy(col("i"), col("j"))
  }

  val tensorStoreUint8RoundtripSql: String =
    s"""WITH $gridCte
       |SELECT i, j,
       |  (CAST(round(v * 100) AS BIGINT) % 256 + 256) % 256 AS u
       |FROM grid WHERE i >= 16 ORDER BY i, j""".stripMargin

  /** uint16 twin — the microscopy dtype (SURVEY §1.1: 16-bit TIFF is the
    * dominant scientific-imaging format). Quantizes at ×1000 mod 65536 so
    * values actually exercise the high byte, stores at 2 bytes/pixel
    * (`dtype:"uint16"` in the manifest — asserted in TensorStoreSpec),
    * and reads back byte-exact under the same frame-range pruning. */
  val tensorStoreUint16Roundtrip: Q = (s, dir) => {
    val store = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_tensor_store_u16_${math.abs(dir.hashCode)}").toString
    val spark = s
    import spark.implicits._
    val u16 = TBlock.fromBlocks(
      Images.eventsRaster(s, dir).map { b =>
        b.copy(data = b.data.map(v =>
          (((math.round(v * 1000) % 65536) + 65536) % 65536).toDouble))
      }, DType.U16)
    graft.sources.TensorStore.writeTyped(u16, store)
    graft.sources.TensorStore.readTyped(s, store, frameRange = Some((1, 2)))
      .flatMap { b =>
        val h = b.shape(0); val w = b.shape(1)
        for (i <- 0 until h; j <- 0 until w) yield {
          val lo = b.data(2 * (i * w + j)) & 0xff
          val hi = b.data(2 * (i * w + j) + 1) & 0xff
          (b.origin(0) + i, b.origin(1) + j, (lo | (hi << 8)).toLong)
        }
      }.toDF("i", "j", "u")
      .orderBy(col("i"), col("j"))
  }

  val tensorStoreUint16RoundtripSql: String =
    s"""WITH $gridCte
       |SELECT i, j,
       |  (CAST(round(v * 1000) AS BIGINT) % 65536 + 65536) % 65536 AS u
       |FROM grid WHERE i >= 16 ORDER BY i, j""".stripMargin

  /** int8 twin (r11 — the quantized-embedding dtype): signed-wrap
    * quantization at ×100 mod 256 re-centered to [−128, 127], stored at
    * 1 byte/pixel (`dtype:"int8"` in the manifest — TensorStoreSpec),
    * read back byte-exact under the same frame-range pruning. Negative
    * values are guaranteed by the re-centering, so the signed decode is
    * genuinely exercised. */
  val tensorStoreInt8Roundtrip: Q = (s, dir) => {
    val store = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_tensor_store_i8_${math.abs(dir.hashCode)}").toString
    val spark = s
    import spark.implicits._
    val i8 = TBlock.fromBlocks(
      Images.eventsRaster(s, dir).map { b =>
        b.copy(data = b.data.map(v =>
          ((math.round(v * 100) % 256 + 384) % 256 - 128).toDouble))
      }, DType.I8)
    graft.sources.TensorStore.writeTyped(i8, store)
    graft.sources.TensorStore.readTyped(s, store, frameRange = Some((1, 2)))
      .flatMap { b =>
        val h = b.shape(0); val w = b.shape(1)
        for (i <- 0 until h; j <- 0 until w)
          yield (b.origin(0) + i, b.origin(1) + j, b.data(i * w + j).toLong)
      }.toDF("i", "j", "q")
      .orderBy(col("i"), col("j"))
  }

  val tensorStoreInt8RoundtripSql: String =
    s"""WITH $gridCte
       |SELECT i, j,
       |  (CAST(round(v * 100) AS BIGINT) % 256 + 384) % 256 - 128 AS q
       |FROM grid WHERE i >= 16 ORDER BY i, j""".stripMargin

  /** Zarr v2 interchange (r12-verdict task #3): the uint16 raster goes
    * through the PUBLIC chunked-array format — `.zarray` JSON + one raw
    * chunk object per grid cell, gzip-compressed, with a NON-divisible
    * chunk grid (20×24 over 48×64) so the spec's edge-chunk pad/trim
    * path is live in the gated key — and comes back byte-exact. Any
    * zarr client (dask/xarray/numpy) reads the same directory; the
    * oracle recomputes the quantized grid. ZarrStoreSpec holds the
    * byte-level format pins (npy cross-check, fill padding, c64/c128
    * logical-shape halving). */
  val tensorStoreZarrRoundtrip: Q = (s, dir) => {
    // store dir keyed by QUERY NAME as well as sf dir, so the two zarr
    // gate keys never share (and can never race on) one store
    val store = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_tensor_store_zarr_rt_${math.abs(dir.hashCode)}").toString
    val spark = s
    import spark.implicits._
    val u16 = TBlock.fromBlocks(
      Images.eventsRaster(s, dir, ch = 20, cw = 24).map { b =>
        b.copy(data = b.data.map(v =>
          (((math.round(v * 1000) % 65536) + 65536) % 65536).toDouble))
      }, DType.U16)
    graft.sources.ZarrStore.writeTyped(u16, store, gzipLevel = Some(1))
    graft.sources.ZarrStore.readTyped(s, store)
      .flatMap { b =>
        val h = b.shape(0); val w = b.shape(1)
        for (i <- 0 until h; j <- 0 until w) yield {
          val lo = b.data(2 * (i * w + j)) & 0xff
          val hi = b.data(2 * (i * w + j) + 1) & 0xff
          (b.origin(0) + i, b.origin(1) + j, (lo | (hi << 8)).toLong)
        }
      }.toDF("i", "j", "u")
      .orderBy(col("i"), col("j"))
  }

  val tensorStoreZarrRoundtripSql: String =
    s"""WITH $gridCte
       |SELECT i, j,
       |  (CAST(round(v * 1000) AS BIGINT) % 65536 + 65536) % 65536 AS u
       |FROM grid ORDER BY i, j""".stripMargin

  /** Pruned-read twin: the SAME store, read back restricted to leading
    * grid rows 1..2 — with 20-row chunks that is rows 20..47, and the
    * restriction prunes at the chunk NAME (glob alternation over
    * surviving leading indices; no non-matching object is opened —
    * ZarrStoreSpec proves it by poisoning out-of-range chunks). The
    * zarr twin of tensor_store_roundtrip's PartitionFilter gate. */
  val tensorStoreZarrPruned: Q = (s, dir) => {
    // own store dir (see tensorStoreZarrRoundtrip's keying note)
    val store = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_tensor_store_zarr_pr_${math.abs(dir.hashCode)}").toString
    val spark = s
    import spark.implicits._
    val u16 = TBlock.fromBlocks(
      Images.eventsRaster(s, dir, ch = 20, cw = 24).map { b =>
        b.copy(data = b.data.map(v =>
          (((math.round(v * 1000) % 65536) + 65536) % 65536).toDouble))
      }, DType.U16)
    graft.sources.ZarrStore.writeTyped(u16, store, gzipLevel = Some(1))
    graft.sources.ZarrStore.readTyped(s, store, frameRange = Some((1, 2)))
      .flatMap { b =>
        val h = b.shape(0); val w = b.shape(1)
        for (i <- 0 until h; j <- 0 until w) yield {
          val lo = b.data(2 * (i * w + j)) & 0xff
          val hi = b.data(2 * (i * w + j) + 1) & 0xff
          (b.origin(0) + i, b.origin(1) + j, (lo | (hi << 8)).toLong)
        }
      }.toDF("i", "j", "u")
      .orderBy(col("i"), col("j"))
  }

  val tensorStoreZarrPrunedSql: String =
    s"""WITH $gridCte
       |SELECT i, j,
       |  (CAST(round(v * 1000) AS BIGINT) % 65536 + 65536) % 65536 AS u
       |FROM grid WHERE i >= 20 ORDER BY i, j""".stripMargin

  val queries: Map[String, Q] = Map(
    "tensor_store_roundtrip" -> tensorStoreRoundtrip,
    "tensor_store_zarr_roundtrip" -> tensorStoreZarrRoundtrip,
    "tensor_store_zarr_pruned" -> tensorStoreZarrPruned,
    "tensor_store_uint8_roundtrip" -> tensorStoreUint8Roundtrip,
    "tensor_store_uint16_roundtrip" -> tensorStoreUint16Roundtrip,
    "tensor_store_int8_roundtrip" -> tensorStoreInt8Roundtrip,
    "tensor_3d_uniform" -> tensor3dUniform,
    "tensor_measure_extended" -> tensorMeasureExtended,
    "tensor_conv_corr" -> tensorConvCorr,
    "tensor_prewitt" -> tensorPrewitt,
    "tensor_gaussian_derivs" -> tensorGaussianDerivs,
    "tensor_threshold_local" -> tensorThresholdLocal,
    "tensor_fourier_uniform" -> tensorFourierUniform,
    "tensor_spline_roundtrip" -> tensorSplineRoundtrip,
    "tensor_spline2_roundtrip" -> tensorSpline2Roundtrip,
    "tensor_spline1d_roundtrip" -> tensorSpline1dRoundtrip,
    "tensor_extrema" -> tensorExtrema,
    "tensor_center_of_mass" -> tensorCenterOfMass,
    "tensor_label_comprehension" -> tensorLabelComprehension,
    "tensor_uniform3" -> tensorUniform3,
    "tensor_gaussian" -> tensorGaussian,
    "tensor_minmax3" -> tensorMinmax3,
    "tensor_uint8_minmax" -> tensorUint8Minmax,
    "tensor_uint8_uniform3" -> tensorUint8Uniform3,
    "tensor_uint16_uniform3" -> tensorUint16Uniform3,
    "tensor_median3" -> tensorMedian3,
    "tensor_laplace" -> tensorLaplace,
    "tensor_sobel" -> tensorSobel,
    "tensor_morph_counts" -> tensorMorphCounts,
    "tensor_uint8_morph" -> tensorUint8Morph,
    "tensor_label_stats" -> tensorLabelStats,
    "tensor_label_i32_store" -> tensorLabelI32Store,
    "tensor_find_objects" -> tensorFindObjects,
    "tensor_fourier_gaussian" -> tensorFourierGaussian,
    "tensor_fourier_c64" -> tensorFourierC64,
    "tensor_fourier_shift" -> tensorFourierShift,
    "tensor_affine_shift" -> tensorAffineShift,
    "tensor_affine_u8" -> tensorAffineU8,
    "tensor_rotate90" -> tensorRotate90,
    "tensor_rotate30" -> tensorRotate30,
    "tensor_rank3" -> tensorRank3,
    "tensor_percentile30" -> tensorPercentile30,
    "tensor_generic_range" -> tensorGenericRange,
  )

  val oracle: Map[String, String] = Map(
    "tensor_store_roundtrip" -> tensorStoreRoundtripSql,
    "tensor_store_zarr_roundtrip" -> tensorStoreZarrRoundtripSql,
    "tensor_store_zarr_pruned" -> tensorStoreZarrPrunedSql,
    "tensor_store_uint8_roundtrip" -> tensorStoreUint8RoundtripSql,
    "tensor_store_uint16_roundtrip" -> tensorStoreUint16RoundtripSql,
    "tensor_store_int8_roundtrip" -> tensorStoreInt8RoundtripSql,
    "tensor_3d_uniform" -> tensor3dUniformSql,
    "tensor_measure_extended" -> tensorMeasureExtendedSql,
    "tensor_conv_corr" -> tensorConvCorrSql,
    "tensor_prewitt" -> tensorPrewittSql,
    "tensor_gaussian_derivs" -> tensorGaussianDerivsSql,
    "tensor_threshold_local" -> tensorThresholdLocalSql,
    "tensor_fourier_uniform" -> tensorFourierUniformSql,
    "tensor_spline_roundtrip" -> tensorSplineRoundtripSql,
    "tensor_spline2_roundtrip" -> tensorSplineRoundtripSql,
    "tensor_spline1d_roundtrip" -> tensorSplineRoundtripSql,
    "tensor_extrema" -> tensorExtremaSql,
    "tensor_center_of_mass" -> tensorCenterOfMassSql,
    "tensor_label_comprehension" -> tensorLabelComprehensionSql,
    "tensor_rank3" -> tensorRank3Sql,
    "tensor_percentile30" -> tensorPercentile30Sql,
    "tensor_generic_range" -> tensorGenericRangeSql,
    "tensor_fourier_gaussian" -> tensorFourierGaussianSql,
    "tensor_fourier_c64" -> tensorFourierC64Sql,
    "tensor_fourier_shift" -> tensorFourierShiftSql,
    "tensor_affine_shift" -> tensorAffineShiftSql,
    "tensor_affine_u8" -> tensorAffineU8Sql,
    "tensor_rotate90" -> tensorRotate90Sql,
    "tensor_rotate30" -> tensorRotate30Sql,
    "tensor_uniform3" -> tensorUniform3Sql,
    "tensor_gaussian" -> tensorGaussianSql,
    "tensor_minmax3" -> tensorMinmax3Sql,
    "tensor_uint8_minmax" -> tensorUint8MinmaxSql,
    "tensor_uint8_uniform3" -> tensorUint8Uniform3Sql,
    "tensor_uint16_uniform3" -> tensorUint16Uniform3Sql,
    "tensor_median3" -> tensorMedian3Sql,
    "tensor_laplace" -> tensorLaplaceSql,
    "tensor_sobel" -> tensorSobelSql,
    "tensor_morph_counts" -> tensorMorphCountsSql,
    "tensor_uint8_morph" -> tensorMorphCountsSql,
    "tensor_label_stats" -> tensorLabelStatsSql,
    "tensor_label_i32_store" -> tensorLabelStatsSql,
    "tensor_find_objects" -> tensorFindObjectsSql,
  )
}
