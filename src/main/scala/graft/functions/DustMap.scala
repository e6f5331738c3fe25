package graft.functions

import graft.spatial.SkyPix
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2B P10 (second half) — sampled-grid sky lookup, the engine's
  * analog of the reference's `ebv()` dust-map builtin (SFD98-style
  * E(B−V) reddening sampled on a sky grid; ref `lsd/sfd.py`,
  * UNVERIFIED — Schlegel, Finkbeiner & Davis 1998, ApJ 500, 525 is
  * the public source).
  *
  * Shape, which is the part that matters at 100 TB: the map is a
  * TABLE keyed by SkyPix cell, the lookup is a BROADCAST equi-join on
  * the packed cell id of each row's (l, b). A real SFD grid at ~7′
  * resolution is a few million cells × 16 bytes ≈ tens of MB — well
  * inside broadcast range — so a dereddening pass over any corpus is
  * map-side only: zero shuffle of the big side, regardless of scale.
  * In production the grid would be ingested once from the published
  * FITS map into parquet; offline here we synthesize a deterministic
  * stand-in (pure integer arithmetic per cell, so DuckDB computes the
  * identical grid and the lookup is oracle-checkable end to end).
  */
object DustMap {
  /** Grid level for the synthetic map: 4^5 = 1024 equal-area cells.
    * The real-map level (~10) changes only the broadcast size. */
  val Level = 5

  private val n = 1L << Level // grid side
  private val shift = Level   // iy = id >> shift, ix = id & (n-1)

  /** Deterministic synthetic E(B−V) per grid cell: integer mix of
    * (ix, iy) scaled to a plausible 0.00–0.997 mag range. Pure int
    * arithmetic + one double division by a constant → bit-identical
    * in any IEEE engine. */
  private def ebvOf(ix: Column, iy: Column): Column =
    ((ix * 31 + iy * 17) % 997).cast("double") / 1000.0

  /** The SQL twin of the grid, as a DuckDB CTE body producing
    * (cell, ebv) — keep textually in sync with [[grid]]. */
  def gridSql: String = {
    val cell = SkyPix.sql.mortonCell(s"(id & ${n - 1})", s"(id >> $shift)",
      Level)
    s"""SELECT $cell AS cell,
       |    CAST(((id & ${n - 1}) * 31 + (id >> $shift) * 17) % 997
       |      AS DOUBLE) / 1000.0 AS ebv
       |  FROM generate_series(0, ${n * n - 1}) AS t(id)""".stripMargin
  }

  /** The dust-map lookup table: (cell BIGINT, ebv DOUBLE), one row per
    * level-5 cell. Driver-sized by construction (4^level rows). */
  def grid(spark: SparkSession): DataFrame = {
    spark.range(0, n * n)
      .select(
        SkyPix.mortonCell(col("id").bitwiseAND(n - 1),
          shiftright(col("id"), shift), Level).as("cell"),
        ebvOf(col("id").bitwiseAND(n - 1), shiftright(col("id"), shift))
          .as("ebv"))
  }

  /** Ingest the PUBLISHED SFD98 dust map: two Lambert ZEA (zenithal
    * equal-area) FITS float images, one per galactic hemisphere
    * (`SFD_dust_4096_ngp.fits` / `..._sgp.fits`), into the same
    * (cell, ebv) lookup-table shape as the synthetic [[grid]] — so
    * the broadcast-join query plan is identical and only the ingest
    * differs. Pixel transform from the SFD98 paper (Schlegel,
    * Finkbeiner & Davis 1998, ApJ 500, 525, Appendix C; n = +1
    * north / −1 south, S = image side):
    *
    *   x = S/2 · sqrt(1 − n·sin b) · cos l + (S−1)/2
    *   y = −n · S/2 · sqrt(1 − n·sin b) · sin l + (S−1)/2
    *
    * Each level-`level` SkyPix cell is sampled at its center with
    * nearest-pixel lookup — the standard point-sample mode of public
    * SFD readers. The two hemisphere images are driver-resident
    * during ingest (tens of MB — the one-time cost), and the result
    * is a driver-sized table that [[withEbv]] broadcasts, so corpus
    * dereddening stays map-side at any corpus scale. */
  def fromFits(spark: SparkSession, ngpPath: String, sgpPath: String,
      level: Int = Level): DataFrame = {
    import graft.sources.Fits
    val ngp = Fits.readImage2D(spark, ngpPath)
    val sgp = Fits.readImage2D(spark, sgpPath)
    require(ngp.width == ngp.height && sgp.width == sgp.height,
      "SFD hemisphere maps must be square Lambert images")
    def sample(lDeg: Double, bDeg: Double): Double = {
      val hemi = if (bDeg >= 0) 1.0 else -1.0
      val img = if (bDeg >= 0) ngp else sgp
      val s = img.width
      val l = math.toRadians(lDeg); val b = math.toRadians(bDeg)
      val r = s / 2.0 * math.sqrt(1.0 - hemi * math.sin(b))
      val x = r * math.cos(l) + (s - 1) / 2.0
      val y = -hemi * r * math.sin(l) + (s - 1) / 2.0
      val ix = math.min(s - 1, math.max(0, math.round(x).toInt))
      val iy = math.min(s - 1, math.max(0, math.round(y).toInt))
      img(ix, iy)
    }
    val side = 1L << level
    // Generate the grid ON EXECUTORS (spark.range → map), with the two
    // hemisphere images broadcast once. At the default level the grid
    // is 4k rows either way, but at a real-map level (≥10) the
    // driver-side enumeration this replaces would materialize 1M+
    // Rows on the driver; here the driver holds only the images
    // (tens of MB, the irreducible ingest cost) and each executor
    // samples its own id-range: driver-side work is O(1), generation
    // is distributed.
    val bNgp = spark.sparkContext.broadcast(ngp)
    val bSgp = spark.sparkContext.broadcast(sgp)
    val _ = sample(0.0, 45.0) // validate images driver-side before shipping
    import spark.implicits._
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (side * side / 65536L).toInt))
    spark.range(0, side * side, 1, parts).as[Long].map { id =>
      val ix = id & (side - 1); val iy = id >> level
      // cell center of the equal-area grid: lon uniform, lat via
      // asin of the uniform sin-lat strip (SkyPix.ixy inverse)
      val lc = (ix + 0.5) * 360.0 / side
      val bc = math.toDegrees(math.asin((iy + 0.5) * 2.0 / side - 1.0))
      val img = if (bc >= 0) bNgp.value else bSgp.value
      val hemi = if (bc >= 0) 1.0 else -1.0
      val s = img.width
      val l = math.toRadians(lc); val b = math.toRadians(bc)
      val r = s / 2.0 * math.sqrt(1.0 - hemi * math.sin(b))
      val x = r * math.cos(l) + (s - 1) / 2.0
      val y = -hemi * r * math.sin(l) + (s - 1) / 2.0
      val jx = math.min(s - 1, math.max(0, math.round(x).toInt))
      val jy = math.min(s - 1, math.max(0, math.round(y).toInt))
      (SkyPix.mortonCellValue(ix, iy, level), img(jx, jy))
    }.toDF("cell", "ebv")
  }

  /** ebv(l, b): append an `ebv` column looked up from the dust grid at
    * each row's galactic coordinates. Broadcast hash join on the
    * packed cell — the big side never shuffles. Coordinates are
    * d6-snapped before gridding so the cell choice is reproducible
    * across engines (the q_skymap discipline). */
  def withEbv(df: DataFrame, lDeg: Column, bDeg: Column): DataFrame =
    withEbv(df, lDeg, bDeg, grid(df.sparkSession), Level)

  /** [[withEbv]] against a caller-supplied (cell, ebv) lookup table —
    * e.g. one ingested from the published SFD maps via [[fromFits]] —
    * gridded at `level`. Same broadcast-join shape. */
  def withEbv(df: DataFrame, lDeg: Column, bDeg: Column,
      dustGrid: DataFrame, level: Int): DataFrame = {
    // the appended column is part of the API; a pre-existing `ebv`
    // would be silently shadowed — fail loudly instead
    require(!df.columns.contains("ebv"),
      "withEbv appends an 'ebv' column but the input already has one")
    val cell = SkyPix.mortonCell(
      SkyPix.ixSnapped(lDeg, level), SkyPix.iySnapped(bDeg, level), level)
    // grid columns under reserved names: a caller `cell` (or `ebv`)
    // column must not make the join condition ambiguous
    val g = dustGrid.select(col("cell").as("__dust_cell_rhs"),
      col("ebv").as("__dust_ebv"))
    df.withColumn("__dust_cell", cell)
      .join(broadcast(g), col("__dust_cell") === col("__dust_cell_rhs"),
        "left")
      .drop("__dust_cell", "__dust_cell_rhs")
      .withColumnRenamed("__dust_ebv", "ebv")
  }
}
