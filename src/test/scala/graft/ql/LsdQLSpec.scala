package graft.ql

import graft.{LsdDb, SpecBase}
import java.nio.file.Files

class LsdQLSpec extends SpecBase {

  private lazy val db = LsdDb(spark, sfDir)
  private lazy val ql = LsdQL.forDb(db)

  test("SELECT/FROM/WHERE basic query") {
    val df = ql.query(
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000")
    val direct = db.table("orders")
      .filter("o_totalprice > 400000").count()
    assert(df.count() == direct && df.columns.toSeq ==
      Seq("o_orderkey", "o_totalprice"))
  }

  test("implicit join along declared relations (FROM a, b)") {
    val df = ql.query(
      "SELECT o_orderkey, c_name FROM orders, customer")
    assert(df.count() == db.table("orders").count())
  }

  test("multi-table join path with expressions and aliases") {
    val df = ql.query(
      """SELECT n_name, r_name, c_acctbal * 2 AS bal2
        |FROM customer, nation, region WHERE c_acctbal > 0""".stripMargin)
    val direct = db.table("customer").filter("c_acctbal > 0").count()
    assert(df.count() == direct)
    assert(df.columns.contains("bal2"))
  }

  test("(outer) join keeps unmatched left rows") {
    // every customer row survives a left join to orders
    val df = ql.query("SELECT c_custkey, o_orderkey FROM customer, orders(outer)")
    assert(df.count() >= db.table("customer").count())
  }

  test("INTO materializes a new table") {
    val tmp = Files.createTempDirectory("graft_ql").toString
    val q = LsdQL(db, LsdQL.standardJoins, intoRoot = Some(tmp))
    q.query("SELECT o_orderkey FROM orders WHERE o_totalprice > 450000 INTO big_orders")
    val written = spark.read.parquet(s"$tmp/big_orders.parquet")
    assert(written.count() ==
      db.table("orders").filter("o_totalprice > 450000").count())
  }

  test("spatial INTO round-trips: layout columns never leak into SELECT *") {
    import spark.implicits._
    // a spatial table (registered sky coords) materialized via INTO
    // lands as a cell-partitioned SpatialWriter layout; reading it
    // back as a TABLE must return exactly the original result schema
    // and rows — no is_margin, no cell partition column.
    val tmp = Files.createTempDirectory("graft_ql_sinto").toString
    val rnd = new scala.util.Random(11)
    val cat = (0L until 400L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)),
      rnd.nextDouble() * 25))
      .toDF("obj_id", "lon", "lat", "mag")
    cat.write.parquet(s"$tmp/cat.parquet")
    val sdb = LsdDb(spark, tmp)
    val q = LsdQL(sdb, Seq.empty, intoRoot = Some(tmp),
      idSpecs = Map("cat" -> IdSpec("lon", "lat", "obj_id", level = 4)))
    q.query("SELECT obj_id, lon, lat, mag FROM cat WHERE mag < 20 INTO bright")
    // it IS a spatial layout on disk (cell directories exist) ...
    assert(new java.io.File(s"$tmp/bright.parquet").listFiles()
      .exists(_.getName.startsWith("cell=")))
    // ... but the table view round-trips the logical result exactly
    val back = sdb.table("bright")
    assert(back.columns.toSeq == Seq("obj_id", "lon", "lat", "mag"))
    val expect = cat.filter("mag < 20")
    assert(back.count() == expect.count())
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    // and footprint-style access still sees the partition column
    val layout = graft.sources.SpatialWriter.readWithMargins(
      spark, s"$tmp/bright.parquet")
    assert(layout.columns.contains("cell"))
  }

  test("spatial INTO result is boundable: INTO then query(_, bounds) prunes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.spatial.Bounds
    // the full reference loop: query INTO a derived catalog (lands as
    // a cell layout with the _SPATIAL sidecar), then a BOUNDED query
    // against the derived table prunes its directories — write side
    // and read side of bounds∩quadtree meeting over one table
    val tmp = Files.createTempDirectory("graft_ql_binto").toString
    val rnd = new scala.util.Random(7)
    val cat = (0L until 500L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)),
      rnd.nextDouble() * 25))
      .toDF("obj_id", "lon", "lat", "mag")
    cat.write.parquet(s"$tmp/cat.parquet")
    val sdb = LsdDb(spark, tmp)
    val q = LsdQL(sdb, Seq.empty, intoRoot = Some(tmp),
      idSpecs = Map("cat" -> IdSpec("lon", "lat", "obj_id", level = 4)))
    q.query("SELECT obj_id, lon, lat, mag FROM cat WHERE mag < 20 INTO brt")
    val b = Bounds.Rect(30.0, 150.0, -45.0, 45.0)
    val got = q.query("SELECT obj_id, lon, lat FROM brt ORDER BY obj_id", b)
    val twin = sdb.table("brt")
      .filter(b.predicate(col("lon"), col("lat")))
      .orderBy("obj_id").select("obj_id", "lon", "lat")
    assert(got.collect().toSeq == twin.collect().toSeq)
    assert(got.count() > 0)
    assert(got.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [cell"),
      "bounded read of the INTO result must prune cell= directories")
  }

  test("keywords and commas inside string literals don't break parsing") {
    val df = ql.query(
      """SELECT concat(o_orderpriority, ' from, where ') AS tagged, o_orderkey
        |FROM orders WHERE o_orderpriority = '5-LOW'""".stripMargin)
    assert(df.count() == db.table("orders")
      .filter("o_orderpriority = '5-LOW'").count())
    assert(df.columns.toSeq == Seq("tagged", "o_orderkey"))
    assert(df.head.getString(0).endsWith(" from, where "))
  }

  test("unknown join relation raises a clear error") {
    val ex = intercept[IllegalArgumentException] {
      ql.query("SELECT 1 FROM orders, events")
    }
    assert(ex.getMessage.contains("no join relation"))
  }

  test("_ID pseudo-column: packed SkyPix id for spatial tables") {
    import spark.implicits._
    import graft.spatial.SkyPix
    import org.apache.spark.sql.functions.col
    // a small spatial catalog registered as its own db
    val tmp = Files.createTempDirectory("graft_ql_id").toString
    val rnd = new scala.util.Random(7)
    val cat = (0L until 500L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))))
      .toDF("obj_id", "lon", "lat")
    cat.write.parquet(s"$tmp/cat.parquet")
    val sdb = LsdDb(spark, tmp)
    val q = LsdQL(sdb, Seq.empty,
      idSpecs = Map("cat" -> IdSpec("lon", "lat", "obj_id", level = 6)))
    val df = q.query("SELECT _ID, obj_id, lon, lat FROM cat")
    assert(df.columns.head == "_ID")
    val rows = df.collect()
    assert(rows.length == 500)
    // ids are unique ...
    assert(rows.map(_.getLong(0)).distinct.length == 500)
    // ... deterministic across runs ...
    val again = q.query("SELECT _ID, obj_id FROM cat")
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(rows.forall(r => again(r.getLong(1)) == r.getLong(0)))
    // ... and idCell recovers the exact SkyPix cell of (lon, lat)
    val mismatch = q.query("SELECT _ID, lon, lat FROM cat")
      .filter(SkyPix.idCell(col("_ID")) =!=
        SkyPix.cell(col("lon"), col("lat"), 6)).count()
    assert(mismatch == 0)
  }

  test("xmatch pair table as a join relation (reference .join parity)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two spatial catalogs + a CrossMatch-materialized pair table,
    // registered as JoinDefs — the reference's precomputed-xmatch join
    // path: FROM dets, pairs, objs resolves det→pair→obj by key chain
    val tmp = Files.createTempDirectory("graft_ql_xm").toString
    val rnd = new scala.util.Random(3)
    val objs = (0L until 200L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))))
      .toDF("obj_id", "obj_lon", "obj_lat")
    val dets = objs.select(col("obj_id") * 100 + 1, col("obj_lon") + 0.001,
      col("obj_lat") + 0.001)
      .toDF("det_id", "det_lon", "det_lat")
    objs.write.parquet(s"$tmp/objs.parquet")
    dets.write.parquet(s"$tmp/dets.parquet")
    val pairs = graft.spatial.CrossMatch.nearest(dets,
      graft.spatial.CrossMatch.Blocking(objs),
      "det_id", "det_lon", "det_lat", "obj_id", "obj_lon", "obj_lat",
      radiusDeg = 0.05, nmax = 1)
    pairs.write.parquet(s"$tmp/xm.parquet")

    val db = LsdDb(spark, tmp)
    val q = LsdQL(db, Seq(
      JoinDef("dets", "det_id", "xm", "a_id"),
      JoinDef("xm", "b_id", "objs", "obj_id")))
    val joined = q.query(
      """SELECT det_id, obj_id, dist_deg, det_lon, obj_lon
        |FROM dets, xm, objs WHERE match_rank = 1""".stripMargin)
    assert(joined.count() == 200) // every det matched its object
    assert(joined.filter(col("det_id") =!= col("obj_id") * 100 + 1)
      .count() == 0)
  }

  test("query-time spatial join: _DIST/_NR pseudo-columns, no pair table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_ql_sj").toString
    val rnd = new scala.util.Random(5)
    val objs = (0L until 150L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))))
      .toDF("obj_id", "obj_lon", "obj_lat")
    // two detections per object: one at 0.001°, one far (unmatched id)
    val near = objs.select((col("obj_id") * 10).as("det_id"),
      (col("obj_lon") + 0.001).as("det_lon"),
      (col("obj_lat") + 0.001).as("det_lat"))
    objs.write.parquet(s"$tmp/objs.parquet")
    near.write.parquet(s"$tmp/dets.parquet")
    val db2 = LsdDb(spark, tmp)
    val q = LsdQL(db2, joins = Nil, spatialJoins = Seq(
      SpatialJoinDef("dets", "det_id", "det_lon", "det_lat",
        "objs", "obj_id", "obj_lon", "obj_lat", radiusDeg = 0.05)))
    val joined = q.query(
      "SELECT det_id, obj_id, _DIST, _NR FROM dets, objs WHERE _NR = 1")
    val rows = joined.collect()
    assert(rows.length == 150)
    assert(rows.forall(r => r.getLong(0) == r.getLong(1) * 10),
      "each detection must match its own object")
    assert(rows.forall(_.getDouble(2) <= 0.05))
    // parity with the direct CrossMatch call
    val direct = graft.spatial.CrossMatch.nearest(db2.table("dets"),
      graft.spatial.CrossMatch.Blocking(db2.table("objs")),
      "det_id", "det_lon", "det_lat",
      "obj_id", "obj_lon", "obj_lat", 0.05, 1)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == direct)

    // (outer) on the SPATIAL from-item: an isolated detection (far
    // from every object) survives with NULL match columns — the
    // reference's outer xmatch mode at the QL surface
    val lone = Seq((99999L, 0.0, -89.9)).toDF("det_id", "det_lon", "det_lat")
    db2.table("dets").union(lone).write.mode("overwrite")
      .parquet(s"$tmp/dets2.parquet")
    val q2 = LsdQL(db2, joins = Nil, spatialJoins = Seq(
      SpatialJoinDef("dets2", "det_id", "det_lon", "det_lat",
        "objs", "obj_id", "obj_lon", "obj_lat", radiusDeg = 0.05)))
    val outer = q2.query(
      "SELECT det_id, obj_id, _DIST FROM dets2, objs(outer)").collect()
    assert(outer.length == 151) // 150 matched + the isolated one
    val loneRow = outer.find(_.getLong(0) == 99999L).get
    assert(loneRow.isNullAt(1) && loneRow.isNullAt(2),
      "isolated detection must survive with NULL match columns")
    // inner drops it
    assert(q2.query("SELECT det_id FROM dets2, objs").collect()
      .forall(_.getLong(0) != 99999L))
  }

  test("spatial join with hotThreshold: skew-mitigated path is row-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_ql_skew").toString
    val rnd = new scala.util.Random(17)
    // background objects all-sky + a deep field: 300 objects crammed
    // into ~0.2° at (180, 0) so one blocking cell goes hot
    val objs = ((0L until 150L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)))) ++
      (150L until 450L).map(i => (i, 180.0 + rnd.nextDouble() * 0.2,
        rnd.nextDouble() * 0.2)))
      .toDF("obj_id", "obj_lon", "obj_lat")
    val dets = objs.select((col("obj_id") * 10).as("det_id"),
      (col("obj_lon") + 0.001).as("det_lon"),
      (col("obj_lat") + 0.001).as("det_lat"))
    objs.write.parquet(s"$tmp/objs.parquet")
    dets.write.parquet(s"$tmp/dets.parquet")
    val db2 = LsdDb(spark, tmp)
    def run(ht: Option[Long]) = LsdQL(db2, joins = Nil, spatialJoins = Seq(
      SpatialJoinDef("dets", "det_id", "det_lon", "det_lat",
        "objs", "obj_id", "obj_lon", "obj_lat", radiusDeg = 0.05,
        hotThreshold = ht, salts = 4)))
      .query("SELECT det_id, obj_id, _DIST, _NR FROM dets, objs WHERE _NR = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val plain = run(None)
    val mitigated = run(Some(50L)) // deep field (300 rows/cell) goes hot
    assert(plain.nonEmpty && mitigated == plain,
      s"skew-mitigated spatial join diverged: ${
        (mitigated diff plain).take(3)}/${(plain diff mitigated).take(3)}")
  }

  test("GROUP BY over a spatial-join FROM (per-object match counts)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_ql_sjagg").toString
    val rnd = new scala.util.Random(23)
    val objs = (0L until 120L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))))
      .toDF("obj_id", "obj_lon", "obj_lat")
    // 1-3 detections per object, tiny offsets
    val dets = objs.as[(Long, Double, Double)].flatMap { case (id, lo, la) =>
      (0 until (1 + (id % 3)).toInt).map(k =>
        (id * 10 + k, lo + 0.0005 * (k + 1), la + 0.0005))
    }.toDF("det_id", "det_lon", "det_lat")
    objs.write.parquet(s"$tmp/objs.parquet")
    dets.write.parquet(s"$tmp/dets.parquet")
    val db2 = LsdDb(spark, tmp)
    val q = LsdQL(db2, joins = Nil, spatialJoins = Seq(
      SpatialJoinDef("dets", "det_id", "det_lon", "det_lat",
        "objs", "obj_id", "obj_lon", "obj_lat", radiusDeg = 0.05)))
    // aggregate OVER the spatial join: matches per object + mean dist
    val got = q.query(
      """SELECT obj_id, count(*) AS n_det, min(_DIST) AS best
        |FROM dets, objs WHERE _NR = 1 GROUP BY obj_id
        |ORDER BY obj_id""".stripMargin).collect()
    // DataFrame twin: CrossMatch + groupBy
    val want = graft.spatial.CrossMatch.nearest(db2.table("dets"),
      graft.spatial.CrossMatch.Blocking(db2.table("objs")),
      "det_id", "det_lon", "det_lat",
      "obj_id", "obj_lon", "obj_lat", 0.05, 1)
      .filter(col("match_rank") === 1)
      .groupBy(col("b_id").as("obj_id"))
      .agg(count(lit(1)).as("n_det"), min("dist_deg").as("best"))
      .orderBy("obj_id").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0))
      assert(g.getLong(1) == w.getLong(1))
      assert(g.getDouble(2) == w.getDouble(2))
    }
    // HAVING over the same shape: only multi-detection objects
    val multi = q.query(
      """SELECT obj_id, count(*) AS n_det FROM dets, objs
        |WHERE _NR = 1 GROUP BY obj_id HAVING count(*) >= 2""".stripMargin)
      .count()
    assert(multi == want.count(_.getLong(1) >= 2))
  }

  test("snapshot tables resolve through the commit log; t@N time-travels") {
    import spark.implicits._
    import graft.sources.Snapshots
    val tmp = Files.createTempDirectory("graft_ql_snap").toString
    // a snapshot-layout table inside a db root: raw recursive parquet
    // would read bases + folded appends (double count) — the table
    // surface must resolve the log instead
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      s"$tmp/snaps.parquet")
    Snapshots.append(Seq((3L, "c")).toDF("k", "v"), s"$tmp/snaps.parquet")
    Snapshots.compact(spark, s"$tmp/snaps.parquet") // base id 3
    Snapshots.append(Seq((4L, "d")).toDF("k", "v"), s"$tmp/snaps.parquet")
    val sdb = LsdDb(spark, tmp)
    // head view: 4 logical rows, even though snap dirs hold 3+1+3=7
    assert(sdb.table("snaps").count() == 4)
    assert(sdb.table("snaps", Some(1L)).as[(Long, String)].collect()
      .toSet == Set((1L, "a"), (2L, "b")))
    val q = LsdQL(sdb, Seq.empty)
    assert(q.query("SELECT k, v FROM snaps").count() == 4)
    assert(q.query("SELECT k FROM snaps@2 ORDER BY k").as[Long].collect()
      .toSeq == Seq(1L, 2L, 3L))
    // non-snapshot tables reject the suffix
    Seq((9L, "z")).toDF("k", "v").write.parquet(s"$tmp/plain.parquet")
    val ex = intercept[IllegalArgumentException] {
      q.query("SELECT k FROM plain@1").collect()
    }
    assert(ex.getMessage.contains("not a snapshot table"))
  }

  test("WHERE range conjuncts drive zone-map pruning on snapshot tables") {
    import spark.implicits._
    import graft.sources.Snapshots
    val tmp = Files.createTempDirectory("graft_ql_zone").toString
    val p = s"$tmp/ranged.parquet"
    Snapshots.append(Seq((1L, "a"), (5L, "b")).toDF("k", "v"), p,
      statsCols = Seq("k"))
    Snapshots.append(Seq((10L, "c"), (15L, "d")).toDF("k", "v"), p,
      statsCols = Seq("k"))
    Snapshots.append(Seq((20L, "e")).toDF("k", "v"), p,
      statsCols = Seq("k"))
    val q = LsdQL(LsdDb(spark, tmp), Seq.empty)
    // the range conjuncts prune to snap=2 alone — and the full WHERE
    // still applies (k=10 filtered out by the extra conjunct)
    val r = q.query(
      "SELECT k, v FROM ranged WHERE k >= 8 AND k <= 16 AND v <> 'c'")
    assert(r.inputFiles.nonEmpty && r.inputFiles.forall(_.contains("snap=2")))
    assert(r.as[(Long, String)].collect().toSet == Set((15L, "d")))
    // BETWEEN prunes like the explicit pair of bounds
    val btw = q.query("SELECT k, v FROM ranged WHERE k BETWEEN 8 AND 16")
    assert(btw.inputFiles.nonEmpty &&
      btw.inputFiles.forall(_.contains("snap=2")))
    assert(btw.as[(Long, String)].collect().toSet ==
      Set((10L, "c"), (15L, "d")))
    // a top-level OR makes range extraction unsound -> no pruning,
    // same rows as the unpruned read
    val or = q.query("SELECT k FROM ranged WHERE k <= 5 OR k >= 20")
    assert(or.inputFiles.exists(_.contains("snap=1")) &&
      or.inputFiles.exists(_.contains("snap=3")))
    assert(or.as[Long].collect().toSet == Set(1L, 5L, 20L))
    // equality conjunct pins a point range
    val eq = q.query("SELECT v FROM ranged WHERE k = 20")
    assert(eq.inputFiles.forall(_.contains("snap=3")))
    assert(eq.as[String].collect().toSeq == Seq("e"))
  }

  test("WHERE equality drives BLOOM pruning where zone maps cannot") {
    import spark.implicits._
    import graft.sources.Snapshots
    val tmp = Files.createTempDirectory("graft_ql_bloom").toString
    val p = s"$tmp/keyed.parquet"
    // overlapping key RANGES (zone maps useless for the probe below),
    // disjoint key SETS (blooms decisive)
    Snapshots.append(Seq((1L, "a"), (100L, "a2")).toDF("k", "v"), p,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.append(Seq((2L, "b"), (99L, "b2")).toDF("k", "v"), p,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.append(Seq((3L, "c"), (98L, "c2")).toDF("k", "v"), p,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    val q = LsdQL(LsdDb(spark, tmp), Seq.empty)
    // k=99 is inside every dir's [min,max]; only snap=2's bloom says yes
    val r = q.query("SELECT v FROM keyed WHERE k = 99")
    assert(r.inputFiles.nonEmpty && r.inputFiles.forall(_.contains("snap=2")),
      s"bloom should prune to snap=2:\n${r.inputFiles.mkString("\n")}")
    assert(r.as[String].collect().toSeq == Seq("b2"))
    // a RANGE on the same column cannot use membership: all dirs scan,
    // rows still correct
    val rg = q.query("SELECT v FROM keyed WHERE k >= 98 AND k <= 100")
    assert(rg.as[String].collect().toSet == Set("a2", "b2", "c2"))
    // an IN list prunes to the union of its values' directories
    val in2 = q.query("SELECT v FROM keyed WHERE k IN (99, 3)")
    val dirs = in2.inputFiles
      .map(f => "snap=" + f.split("/snap=")(1).takeWhile(_ != '/')).toSet
    assert(dirs == Set("snap=2", "snap=3"), s"got $dirs")
    assert(in2.as[String].collect().toSet == Set("b2", "c"))
    // IN with a non-literal entry is not extracted; rows still correct
    assert(q.query("SELECT v FROM keyed WHERE k IN (98 + 1, 3 - 3)")
      .as[String].collect().toSet == Set("b2"))
  }

  test("extractInList soundness corners") {
    val st = Set("x")
    assert(LsdQL.extractInList("x IN (1, 2, 3)", st)
      .contains(("x", Seq(1.0, 2.0, 3.0))))
    // OR at top level aborts
    assert(LsdQL.extractInList("x IN (1) OR x = 5", st).isEmpty)
    // non-literal members abort the extraction (not the query)
    assert(LsdQL.extractInList("x IN (1, y)", st).isEmpty)
    // subquery IN never matches (inner parens break the body shape)
    assert(LsdQL.extractInList("x IN (SELECT k FROM t)", st).isEmpty)
    // NOT IN must not be treated as IN
    assert(LsdQL.extractInList("x NOT IN (1, 2)", st).isEmpty)
    // unknown column skipped
    assert(LsdQL.extractInList("z IN (1)", st).isEmpty)
  }

  test("extractRange soundness corners") {
    val st = Set("x", "y")
    assert(LsdQL.extractRange("x >= 3 AND x < 9", st)
      .contains(("x", 3.0, 9.0)))
    // OR anywhere at top level aborts (AND binds tighter than OR)
    assert(LsdQL.extractRange("x >= 3 OR y = 1 AND x <= 9", st).isEmpty)
    // parenthesized OR is fine — the other conjunct still implies
    assert(LsdQL.extractRange("(y = 1 OR v = 2) AND x >= 3", st)
      .contains(("x", 3.0, Double.PositiveInfinity)))
    // unknown columns and function conjuncts are skipped
    assert(LsdQL.extractRange("abs(x) > 2 AND z = 5", st).isEmpty)
    // BETWEEN is a single conjunct (its AND is not a conjunction)
    assert(LsdQL.extractRange("x BETWEEN 1 AND 9", st)
      .contains(("x", 1.0, 9.0)))
    assert(LsdQL.extractRange("x BETWEEN 1 AND 9 AND y >= 4", st)
      .contains(("x", 1.0, 9.0)))
    assert(LsdQL.extractRange("y = 2 AND x BETWEEN 3 AND 5", st)
      .contains(("x", 3.0, 5.0)) ||
      LsdQL.extractRange("y = 2 AND x BETWEEN 3 AND 5", st)
        .contains(("y", 2.0, 2.0))) // both valid; most-bounded wins ties
    // NOT BETWEEN must not extract (the NOT breaks the shape)
    assert(LsdQL.extractRange("x NOT BETWEEN 1 AND 9", st).isEmpty)
    // parenthesized BETWEEN inside an abandoned fragment stays inert
    assert(LsdQL.extractRange("(x BETWEEN 1 AND 9) AND x <= 4", st)
      .contains(("x", Double.NegativeInfinity, 4.0)))
    // string literal containing AND/OR does not split
    assert(LsdQL.extractRange("v = 'a AND b' AND x <= 4", st)
      .contains(("x", Double.NegativeInfinity, 4.0)))
  }

  test("GROUP BY round-trips against the DataFrame path") {
    import org.apache.spark.sql.functions._
    val got = ql.query(
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        |  count(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).collect()
    val want = db.table("lineitem")
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getDouble(1) == w.getDouble(1))
      assert(g.getLong(2) == w.getLong(2))
    }
  }

  test("GROUP BY composes with joins, WHERE and HAVING") {
    import org.apache.spark.sql.functions._
    val got = ql.query(
      """SELECT n_name, count(*) AS n_cust FROM customer, nation
        |WHERE c_acctbal > 0 GROUP BY n_name HAVING count(*) > 1
        |ORDER BY n_name""".stripMargin).collect()
    val nation = db.table("nation")
    val want = db.table("customer").filter("c_acctbal > 0")
      .join(nation, col("c_nationkey") === nation("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_cust"))
      .filter(col("n_cust") > 1).orderBy("n_name").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      want.map(r => (r.getString(0), r.getLong(1))).toSeq)
    assert(got.nonEmpty)
  }

  test("ORDER BY without GROUP BY; HAVING without GROUP BY rejected") {
    val got = ql.query(
      "SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC")
      .limit(3).collect()
    assert(got.length == 3)
    intercept[IllegalArgumentException] {
      ql.query("SELECT o_orderkey FROM orders HAVING count(*) > 1")
    }
  }

  test("multi-hop join paths resolve through the declared relations") {
    // lineitem→region has no direct JoinDef; the path runs
    // lineitem→orders→customer→nation→region, pulled in implicitly
    val df = ql.query(
      """SELECT r_name, count(*) AS n FROM lineitem, region
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
    import org.apache.spark.sql.functions._
    val li = db.table("lineitem"); val o = db.table("orders")
    val c = db.table("customer"); val n = db.table("nation")
    val r = db.table("region")
    val want = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("n"))
      .orderBy("r_name").collect()
    val got = df.collect()
    assert(got.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      want.map(x => (x.getString(0), x.getLong(1))).toSeq)
    assert(got.nonEmpty)
  }

  test("LIMIT caps rows; with ORDER BY it plans distributed top-k") {
    val df = ql.query(
      "SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC LIMIT 5")
    assert(df.count() == 5)
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT must plan top-k, not a full sort")
    assert(ql.query("SELECT o_orderkey FROM orders LIMIT 7").count() == 7)
    intercept[IllegalArgumentException] {
      ql.query("SELECT o_orderkey FROM orders LIMIT -1")
    }
  }

  test("_ID usable in WHERE; key-fallback for non-spatial tables") {
    // non-spatial fallback: _ID == declared unique key
    val df = ql.query("SELECT _ID, o_orderkey FROM orders WHERE _ID % 2 = 0")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) == r.getLong(1) &&
      r.getLong(0) % 2 == 0))
    // quoted '_ID' must NOT trigger resolution
    val lit = ql.query("SELECT '_ID x' AS tag, o_orderkey FROM orders")
    assert(!lit.columns.contains("_ID"))
  }

  test("SELECT DISTINCT round-trips against the DataFrame twin") {
    val df = ql.query("SELECT DISTINCT o_orderstatus FROM orders")
    val want = db.table("orders").select("o_orderstatus").distinct()
    assert(df.columns.toSeq == Seq("o_orderstatus"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      want.collect().map(_.getString(0)).sorted.toSeq)
    // DISTINCT composes with WHERE, ORDER BY and LIMIT
    val lim = ql.query(
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |WHERE o_totalprice > 0 ORDER BY o_orderstatus, o_orderpriority
        |LIMIT 3""".stripMargin)
    val twin = db.table("orders").filter("o_totalprice > 0")
      .select("o_orderstatus", "o_orderpriority").distinct()
      .orderBy("o_orderstatus", "o_orderpriority").limit(3)
    assert(lim.collect().map(_.toString).toSeq ==
      twin.collect().map(_.toString).toSeq)
    // a column whose name merely starts with "distinct" is untouched
    val agg = ql.query(
      "SELECT DISTINCT o_custkey FROM orders WHERE o_custkey < 10")
    assert(agg.count() ==
      db.table("orders").filter("o_custkey < 10")
        .select("o_custkey").distinct().count())
  }

  test("set operators: UNION/UNION ALL/INTERSECT/EXCEPT round-trip") {
    val lo = "SELECT o_orderstatus FROM orders WHERE o_totalprice <= 200000"
    val hi = "SELECT o_orderstatus FROM orders WHERE o_totalprice > 200000"
    val dfLo = db.table("orders").filter("o_totalprice <= 200000")
      .select("o_orderstatus")
    val dfHi = db.table("orders").filter("o_totalprice > 200000")
      .select("o_orderstatus")
    def vals(q: String) = ql.query(q).collect().map(_.getString(0)).sorted.toSeq
    def dvals(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.getString(0)).sorted.toSeq
    assert(vals(s"$lo UNION ALL $hi") == dvals(dfLo.union(dfHi)))
    assert(vals(s"$lo UNION $hi") == dvals(dfLo.union(dfHi).distinct()))
    assert(vals(s"$lo INTERSECT $hi") == dvals(dfLo.intersect(dfHi)))
    assert(vals(s"$lo EXCEPT $hi") == dvals(dfLo.except(dfHi)))
  }

  test("set expression: trailing ORDER BY/LIMIT applies to the combined result") {
    val q =
      """SELECT o_orderkey FROM orders WHERE o_orderkey < 5
        |UNION ALL
        |SELECT o_orderkey FROM orders WHERE o_orderkey >= 5 AND o_orderkey < 9
        |ORDER BY o_orderkey LIMIT 6""".stripMargin
    val got = ql.query(q).collect().map(_.getLong(0)).toSeq
    val want = db.table("orders").filter("o_orderkey < 9")
      .select("o_orderkey").orderBy("o_orderkey").limit(6)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
    // tail clauses on a NON-last operand fail loud
    val e = intercept[IllegalArgumentException] {
      ql.query(
        """SELECT o_orderkey FROM orders ORDER BY o_orderkey
          |UNION ALL SELECT o_orderkey FROM orders""".stripMargin)
    }
    assert(e.getMessage.contains("last"))
    // keyword inside a string literal is NOT a set operator
    val lit = ql.query("SELECT 'a union b' AS t, o_orderkey FROM orders")
    assert(lit.columns.toSeq == Seq("t", "o_orderkey"))
  }

  test("set expression INTO materializes the combined result") {
    val tmp = Files.createTempDirectory("graft_ql_set_into").toString
    val qlInto = LsdQL.forDb(db).copy(intoRoot = Some(tmp))
    qlInto.query(
      """SELECT o_orderstatus FROM orders WHERE o_totalprice <= 200000
        |UNION
        |SELECT o_orderstatus FROM orders WHERE o_totalprice > 200000
        |INTO statuses""".stripMargin)
    val back = spark.read.parquet(s"$tmp/statuses.parquet")
    val want = db.table("orders").select("o_orderstatus").distinct()
    assert(back.collect().map(_.getString(0)).sorted.toSeq ==
      want.collect().map(_.getString(0)).sorted.toSeq)
  }

  test("window functions work in the select list (plain and agg paths)") {
    // plain path: selectExpr parses OVER clauses
    val df = ql.query(
      """SELECT o_custkey, o_totalprice,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
        |    AS rk
        |FROM orders WHERE o_custkey < 50""".stripMargin)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val twin = db.table("orders").filter("o_custkey < 50")
      .select(col("o_custkey"), col("o_totalprice"),
        rank().over(Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc)).as("rk"))
    assert(df.columns.toSeq == Seq("o_custkey", "o_totalprice", "rk"))
    assert(df.collect().map(_.toString).sorted.toSeq ==
      twin.collect().map(_.toString).sorted.toSeq)
    // agg-path (ORDER BY present routes through spark.sql)
    val lag1 = ql.query(
      """SELECT o_orderkey,
        |  lag(o_totalprice, 1) OVER (ORDER BY o_orderkey) AS prev_price
        |FROM orders ORDER BY o_orderkey LIMIT 5""".stripMargin)
    assert(lag1.columns.toSeq == Seq("o_orderkey", "prev_price"))
    assert(lag1.count() == 5)
  }

  test("WITH: CTE round-trips against the DataFrame twin") {
    val df = ql.query(
      """WITH big AS (SELECT o_custkey, o_totalprice FROM orders
        |             WHERE o_totalprice > 300000)
        |SELECT o_custkey, count(*) AS n FROM big
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
    import org.apache.spark.sql.functions._
    val twin = db.table("orders").filter("o_totalprice > 300000")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .orderBy("o_custkey")
    assert(df.collect().map(_.toString).toSeq ==
      twin.collect().map(_.toString).toSeq)
  }

  test("WITH: later CTEs and nested WITH see earlier names") {
    val df = ql.query(
      """WITH big AS (SELECT o_custkey, o_totalprice FROM orders
        |             WHERE o_totalprice > 300000),
        |  top AS (WITH x AS (SELECT o_custkey FROM big)
        |          SELECT DISTINCT o_custkey FROM x)
        |SELECT count(*) AS n FROM top""".stripMargin)
    val want = db.table("orders").filter("o_totalprice > 300000")
      .select("o_custkey").distinct().count()
    assert(df.collect().head.getLong(0) == want)
  }

  test("WITH: CTE body may be a set expression; string ')' is opaque") {
    val df = ql.query(
      """WITH u AS (SELECT c_custkey AS k FROM customer WHERE c_custkey < 5
        |           UNION ALL
        |           SELECT c_custkey AS k FROM customer
        |           WHERE c_name LIKE '%)never(%'),
        |  w AS (SELECT k FROM u)
        |SELECT k FROM w ORDER BY k""".stripMargin)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("GROUP BY ROLLUP passes through to Spark SQL") {
    val df = ql.query(
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |GROUP BY ROLLUP(o_orderstatus)
        |ORDER BY o_orderstatus NULLS FIRST""".stripMargin)
    val rows = df.collect()
    // grand-total row (NULL key) + one row per status
    val statuses = db.table("orders").select("o_orderstatus")
      .distinct().count()
    assert(rows.length == statuses + 1)
    assert(rows.head.isNullAt(0) &&
      rows.head.getLong(1) == db.table("orders").count())
  }

  test("WHERE IN (SELECT ...) subquery plans as a semi-join") {
    val df = ql.query(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 5000)
        |ORDER BY o_orderkey""".stripMargin)
    val rich = db.table("customer").filter("c_acctbal > 5000")
      .select("c_custkey")
    val orders = db.table("orders")
    val twin = orders
      .join(rich, orders("o_custkey") === rich("c_custkey"), "left_semi")
    assert(df.count() == twin.count() && twin.count() > 0)
    // the planner must produce a semi-join, not a distinct+inner
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected semi-join:\n$plan")
  }

  test("WHERE NOT EXISTS and scalar subquery") {
    val noOrders = ql.query(
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT o_orderkey FROM orders
        |                  WHERE o_totalprice > 100000)""".stripMargin)
    // uncorrelated: inner is non-empty, so NOT EXISTS kills all rows
    assert(noOrders.count() == 0)
    val scalar = ql.query(
      """SELECT o_orderkey FROM orders
        |WHERE o_totalprice >= (SELECT max(o_totalprice) FROM orders)""".stripMargin)
    assert(scalar.count() >= 1)
    val mx = db.table("orders").agg(org.apache.spark.sql.functions
      .max("o_totalprice")).head.getDouble(0)
    assert(scalar.count() ==
      db.table("orders").filter(s"o_totalprice >= $mx").count())
  }

  test("WHERE subquery sees the CTE scope") {
    val df = ql.query(
      """WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM rich)""".stripMargin)
    assert(df.count() > 0)
  }

  test("correlated EXISTS decorrelates to a semi-join") {
    val df = ql.query(
      """SELECT o_orderkey FROM orders
        |WHERE EXISTS (SELECT c_custkey FROM customer
        |              WHERE c_custkey = o_custkey
        |                AND c_acctbal > 5000)""".stripMargin)
    val rich = db.table("customer").filter("c_acctbal > 5000")
      .select("c_custkey")
    val orders = db.table("orders")
    val twin = orders
      .join(rich, orders("o_custkey") === rich("c_custkey"), "left_semi")
    assert(df.count() == twin.count() && twin.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected semi-join:\n$plan")
  }

  test("correlated NOT EXISTS decorrelates to an anti-join") {
    val df = ql.query(
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT o_orderkey FROM orders
        |                  WHERE o_custkey = c_custkey)""".stripMargin)
    val cust = db.table("customer")
    val ords = db.table("orders").select("o_custkey")
    val twin = cust
      .join(ords, cust("c_custkey") === ords("o_custkey"), "left_anti")
    assert(df.count() == twin.count())
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti-join:\n$plan")
  }

  test("mixed WHERE: uncorrelated IN + correlated EXISTS in one clause") {
    val df = ql.query(
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 5000)
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey)""".stripMargin)
    val rich = db.table("customer").filter("c_acctbal > 5000")
      .select("c_custkey")
    val li = db.table("lineitem").select("l_orderkey")
    val o = db.table("orders")
    val twin = o
      .join(rich, o("o_custkey") === rich("c_custkey"), "left_semi")
      .join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
    assert(df.count() == twin.count() && twin.count() > 0)
  }

  test("correlated EXISTS over a CTE-scoped inner table") {
    val df = ql.query(
      """WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |SELECT o_orderkey FROM orders
        |WHERE EXISTS (SELECT 1 FROM rich
        |              WHERE c_custkey = o_custkey)""".stripMargin)
    val rich = db.table("customer").filter("c_acctbal > 5000")
      .select("c_custkey")
    val o = db.table("orders")
    val twin = o.join(rich, o("o_custkey") === rich("c_custkey"),
      "left_semi")
    assert(df.count() == twin.count() && twin.count() > 0)
  }

  test("correlated fallback does not clobber pre-existing temp views") {
    // simulate LsdDb.registerAll: the session owns a temp view named
    // like a base table; a correlated query over that table must not
    // drop it (round-13 review fix)
    db.table("customer").createOrReplaceTempView("customer")
    try {
      val df = ql.query(
        """SELECT o_orderkey FROM orders
          |WHERE EXISTS (SELECT 1 FROM customer
          |              WHERE c_custkey = o_custkey)""".stripMargin)
      assert(df.count() > 0)
      // the caller's view must still be registered afterwards
      assert(spark.catalog.tableExists("customer"),
        "correlated fallback dropped the session's pre-existing view")
    } finally spark.catalog.dropTempView("customer")
  }

  test("broken uncorrelated subquery still fails loudly") {
    // a nonexistent inner table is NOT an analysis failure of the
    // correlated kind — it must rethrow, not silently fall back
    val e = intercept[Exception] {
      ql.query(
        """SELECT o_orderkey FROM orders
          |WHERE o_custkey IN (SELECT x FROM no_such_table)""".stripMargin)
        .count()
    }
    assert(e.getMessage != null)
  }

  test("correlated scalar subquery binds the outer row") {
    // each order compared against ITS customer's account balance
    val df = ql.query(
      """SELECT o_orderkey FROM orders
        |WHERE o_totalprice > (SELECT c_acctbal FROM customer
        |                      WHERE c_custkey = o_custkey)""".stripMargin)
    val twin = db.table("orders").as("o")
      .join(db.table("customer").as("c"),
        org.apache.spark.sql.functions.expr("c_custkey = o_custkey"))
      .filter("o_totalprice > c_acctbal")
    assert(df.count() == twin.count() && df.count() > 0)
  }

  test("IN-list with a quoted '(SELECT' literal is not rewritten") {
    val df = ql.query(
      "SELECT c_custkey FROM customer WHERE c_name <> '(SELECT x)'")
    assert(df.count() == db.table("customer").count())
  }

  test("set-op precedence: INTERSECT binds tighter than UNION") {
    // custkeys: t1 = {0,1}, t2 = {1,2}, t3 = {2,3}
    // SQL precedence: t1 UNION (t2 INTERSECT t3) = {0,1} ∪ {2} = {0,1,2}
    // left-to-right (wrong) would be ({0,1}∪{1,2}) ∩ {2,3} = {2}
    val df = ql.query(
      """SELECT c_custkey FROM customer WHERE c_custkey < 2
        |UNION
        |SELECT c_custkey FROM customer WHERE c_custkey >= 1 AND c_custkey < 3
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_custkey >= 2 AND c_custkey < 4
        |ORDER BY c_custkey""".stripMargin)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // Spark SQL twin agrees
    val twin = spark.sql(
      """SELECT id FROM range(0, 2)
        |UNION SELECT id FROM range(1, 3)
        |INTERSECT SELECT id FROM range(2, 4)
        |ORDER BY id""".stripMargin)
    assert(twin.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("WITH: duplicate name in one list rejected, even when shadowing") {
    intercept[IllegalArgumentException] {
      ql.query(
        """WITH x AS (SELECT c_custkey FROM customer),
          |  x AS (SELECT c_custkey FROM customer)
          |SELECT count(*) AS n FROM x""".stripMargin)
    }
    // the same duplicate nested under an outer x must ALSO error
    // (shadowing alone is legal; double declaration never is)
    intercept[IllegalArgumentException] {
      ql.query(
        """WITH x AS (SELECT c_custkey FROM customer),
          |  y AS (WITH x AS (SELECT c_custkey FROM x),
          |             x AS (SELECT c_custkey FROM x)
          |        SELECT c_custkey FROM x)
          |SELECT count(*) AS n FROM y""".stripMargin)
    }
    // plain shadowing still works
    val df = ql.query(
      """WITH x AS (SELECT c_custkey FROM customer WHERE c_custkey < 10),
        |  y AS (WITH x AS (SELECT c_custkey FROM x WHERE c_custkey < 5)
        |        SELECT c_custkey FROM x)
        |SELECT count(*) AS n FROM y""".stripMargin)
    assert(df.collect().head.getLong(0) == 5L)
  }

  test("WITH: @snapshot on a CTE name is rejected; filters push through") {
    val e = intercept[IllegalArgumentException] {
      ql.query(
        """WITH c AS (SELECT * FROM customer)
          |SELECT c_custkey FROM c@3""".stripMargin)
    }
    assert(e.getMessage.contains("CTE"))
    // pushdown: a WHERE outside the CTE must reach the parquet scan
    val df = ql.query(
      """WITH c AS (SELECT c_custkey, c_acctbal FROM customer)
        |SELECT c_custkey FROM c WHERE c_custkey = 7""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(c_custkey,7"),
      s"filter must push through the CTE boundary:\n$plan")
  }

  test("window functions: ranking QL round-trips the Windows twin") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = ql.query(
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn,
        |  CAST(rank() OVER (PARTITION BY o_custkey
        |    ORDER BY year(o_orderdate)) AS INT) AS rnk
        |FROM orders WHERE o_totalprice > 100000""".stripMargin)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val w2 = Window.partitionBy("o_custkey").orderBy(year(col("o_orderdate")))
    val twin = db.table("orders").filter("o_totalprice > 100000")
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("int").as("rn"),
        rank().over(w2).cast("int").as("rnk"))
    assert(df.collect().toSet == twin.collect().toSet)
    // the WHERE evaluates BEFORE the window (SQL order): every rn
    // sequence per customer is gap-free over the filtered rows
    val maxRn = df.groupBy("o_custkey")
      .agg(max("rn").as("m"), count(lit(1)).as("n"))
      .filter(col("m") =!= col("n")).count()
    assert(maxRn == 0, "row_number must be dense over the FILTERED rows")
  }

  test("window functions: lag and frame aggregate through QL") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = ql.query(
      """SELECT event_id, user_id, value,
        |  value - lag(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS delta,
        |  CAST(sum(CAST(value AS DECIMAL(28,8))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS run
        |FROM events""".stripMargin)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val twin = db.table("events")
      .select(col("event_id"), col("user_id"), col("value"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"),
        sum(col("value").cast("decimal(28,8)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("run"))
    assert(df.collect().toSet == twin.collect().toSet)
  }

  test("QUALIFY filters on window output (top-k per group)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = ql.query(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |FROM orders
        |QUALIFY rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val twin = db.table("orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("int").as("rn"))
      .filter(col("rn") <= 2)
    assert(df.collect().toSet == twin.collect().toSet)
    assert(df.columns.toSeq ==
      Seq("o_custkey", "o_orderkey", "o_totalprice", "rn"),
      "the hidden qualify column must not leak")
    // QUALIFY may also hold a direct window expression (no alias),
    // as long as the columns its window reads survive the projection
    val direct = ql.query(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) = 1""".stripMargin)
    assert(direct.count() == db.table("orders")
      .select("o_custkey").distinct().count())
    // …and over a DROPPED column it fails loudly at analysis, never
    // silently rescanning the base table (the documented contract)
    intercept[org.apache.spark.sql.AnalysisException] {
      ql.query(
        """SELECT o_custkey, o_orderkey FROM orders
          |QUALIFY row_number() OVER (PARTITION BY o_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey) = 1""".stripMargin)
    }
  }

  test("property: random clause compositions agree with Spark SQL") {
    // The QL clause splitter (keyword scan + WINDOW/QUALIFY guards +
    // paren/quote awareness) must never change MEANING relative to
    // handing the equivalent text to Spark SQL. 40 seeded random
    // compositions over select lists (incl. keyword-shaped aliases),
    // WHERE, GROUP BY/HAVING, ORDER BY/LIMIT.
    db.table("orders").createOrReplaceTempView("orders_prop")
    try {
      val rnd = new scala.util.Random(41)
      val selects = Seq(
        "o_orderkey, o_custkey",
        "o_orderkey, o_totalprice * 2 AS tp",
        "o_orderkey, upper(o_orderstatus) AS st, o_totalprice AS qualify",
        "o_orderkey, o_totalprice AS window")
      val wheres = Seq(None, Some("o_totalprice > 100000"),
        Some("o_custkey % 3 = 1 AND o_totalprice > 50000"),
        Some("o_orderstatus IN ('F', 'O')"))
      val tails = Seq("", " ORDER BY o_orderkey", " ORDER BY o_orderkey LIMIT 17")
      for (_ <- 0 until 40) {
        val (body, grouped) =
          if (rnd.nextInt(3) == 0) // aggregation shape
            (s"SELECT o_custkey, count(*) AS n, " +
              "CAST(sum(CAST(o_totalprice AS DECIMAL(28,8))) AS DOUBLE) AS s " +
              "FROM orders" +
              wheres(rnd.nextInt(wheres.length)).map(" WHERE " + _).getOrElse("") +
              " GROUP BY o_custkey" +
              (if (rnd.nextBoolean()) " HAVING count(*) > 2" else ""), true)
          else
            (s"SELECT ${selects(rnd.nextInt(selects.length))} FROM orders" +
              wheres(rnd.nextInt(wheres.length)).map(" WHERE " + _).getOrElse(""),
              false)
        val tail0 = tails(rnd.nextInt(tails.length))
        // grouped output has no o_orderkey — order by the group key
        val tail = if (grouped) tail0.replace("o_orderkey", "o_custkey")
                   else tail0
        val qlText = body + tail
        val sqlText = qlText.replace("FROM orders", "FROM orders_prop")
        val got = ql.query(qlText).collect()
        val want = spark.sql(sqlText).collect()
        if (tail.contains("ORDER BY"))
          assert(got.toSeq == want.toSeq, s"ordered mismatch for: $qlText")
        else
          assert(got.toSet == want.toSet, s"set mismatch for: $qlText")
      }
    } finally spark.catalog.dropTempView("orders_prop")
  }

  test("property: composed new grammar (derived/WINDOW/QUALIFY/_ID) agrees with Spark SQL") {
    // round-17 grammar growth (derived tables in FROM, named WINDOW,
    // QUALIFY, oracle-gated _ID) joins the clause-composition
    // property: 40 seeded compositions, each checked against the
    // equivalent Spark SQL text (QUALIFY — which Spark lacks —
    // lowered to a wrapping WHERE in the twin; _ID to the declared
    // key cast). This keeps the three quote-aware walkers honest as
    // the surface grows.
    db.table("orders").createOrReplaceTempView("orders_prop2")
    try {
      val rnd = new scala.util.Random(43)
      val wheres = Seq(None, Some("o_totalprice > 120000"),
        Some("o_custkey % 2 = 0"))
      val winSpec =
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey"
      for (i <- 0 until 40) {
        val w = wheres(rnd.nextInt(wheres.length))
        val whereQl = w.map(" WHERE " + _).getOrElse("")
        val shape = rnd.nextInt(4)
        val (qlText, sqlText, ordered) = shape match {
          case 0 => // derived table in FROM (+ optional outer WHERE)
            val alias = if (rnd.nextBoolean()) "AS d" else "d"
            (s"SELECT o_orderkey, tp FROM (SELECT o_orderkey, " +
              s"o_totalprice * 2 AS tp FROM orders$whereQl) $alias " +
              "WHERE tp > 100000 ORDER BY o_orderkey",
              s"SELECT o_orderkey, tp FROM (SELECT o_orderkey, " +
                s"o_totalprice * 2 AS tp FROM orders_prop2$whereQl) d " +
                "WHERE tp > 100000 ORDER BY o_orderkey",
              true)
          case 1 => // named WINDOW, no QUALIFY
            (s"SELECT o_custkey, o_orderkey, " +
              "CAST(row_number() OVER w AS INT) AS rn FROM orders" +
              s"$whereQl WINDOW w AS ($winSpec) ORDER BY o_custkey, rn",
              s"SELECT o_custkey, o_orderkey, " +
                "CAST(row_number() OVER w AS INT) AS rn FROM orders_prop2" +
                s"$whereQl WINDOW w AS ($winSpec) ORDER BY o_custkey, rn",
              true)
          case 2 => // named WINDOW + QUALIFY (twin: wrapping WHERE)
            val k = 1 + rnd.nextInt(3)
            (s"SELECT o_custkey, o_orderkey, " +
              "CAST(row_number() OVER w AS INT) AS rn FROM orders" +
              s"$whereQl WINDOW w AS ($winSpec) QUALIFY rn <= $k " +
              "ORDER BY o_custkey, rn",
              s"SELECT * FROM (SELECT o_custkey, o_orderkey, " +
                "CAST(row_number() OVER w AS INT) AS rn FROM orders_prop2" +
                s"$whereQl WINDOW w AS ($winSpec)) " +
                s"WHERE rn <= $k ORDER BY o_custkey, rn",
              true)
          case _ => // _ID mixed into select + predicate clauses
            (s"SELECT o_orderkey, _ID FROM orders$whereQl" +
              (if (w.isDefined) " AND" else " WHERE") +
              " _ID % 5 = 0 ORDER BY _ID LIMIT 50",
              s"SELECT o_orderkey, CAST(o_orderkey AS BIGINT) AS `_ID` " +
                s"FROM orders_prop2$whereQl" +
                (if (w.isDefined) " AND" else " WHERE") +
                " o_orderkey % 5 = 0 ORDER BY `_ID` LIMIT 50",
              true)
        }
        val got = ql.query(qlText).collect()
        val want = spark.sql(sqlText).collect()
        if (ordered)
          assert(got.toSeq == want.toSeq, s"seed $i mismatch for: $qlText")
        else
          assert(got.toSet == want.toSet, s"seed $i mismatch for: $qlText")
      }
    } finally spark.catalog.dropTempView("orders_prop2")
  }

  test("property: r18 grammar — bounds args, FROM-item overrides, " +
    "@snap, set ops over spatial items") {
    // round-18 grammar growth joins the composition property: query-
    // time bounds (cone/rect/polygon × with/without time) against the
    // DataFrame predicate twin, FROM-item (outer, nmax=, dmax=)
    // overrides against the LIBRARY CrossMatch (independent of the
    // lowering), t@N reads against Snapshots.read(asOf), and set
    // operators composed over a BOUNDED spatial item. 40 seeded
    // compositions keep the parser's quote-aware walkers and the
    // bounds plumbing honest as the surface grows (r19, verdict #5).
    import graft.spatial.{Bounds, TimeInterval}
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = graft.operators.Joins.ensureQlSurveyDb(spark, sfDir)
    val db2 = LsdDb(spark, root)
    val rel = SpatialJoinDef("detections", "id", "lon", "lat",
      "objects", "obj_id", "olon", "olat",
      radiusDeg = 0.5, nmax = 2, snapD6 = true)
    val ql2 = LsdQL(db2, Nil, spatialJoins = Seq(rel),
      timeKeys = Map("detections" -> "ts"))
    val det = db2.table("detections")
    val obj = db2.table("objects")
    // snapshot fixture: 3 commits, so @1/@2/@3 are all distinct views
    val snapRoot = Files.createTempDirectory("graft_ql_prop_snap").toString
    val sp = s"$snapRoot/snaps.parquet"
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), sp)
    Snapshots.append(Seq((3L, "c"), (4L, "d")).toDF("k", "v"), sp)
    Snapshots.append(Seq((5L, "e")).toDF("k", "v"), sp)
    val sdb = LsdDb(spark, snapRoot)
    val sql3 = LsdQL(sdb, Nil)
    val rnd = new scala.util.Random(47)
    for (i <- 0 until 40) {
      rnd.nextInt(4) match {
        case 0 => // bounds arguments: cone/rect/poly × optional time
          val clon = rnd.nextDouble() * 360
          val clat = rnd.nextDouble() * 40 - 20
          val b: Bounds = rnd.nextInt(3) match {
            case 0 => Bounds.Cone(clon, clat, 5 + rnd.nextDouble() * 15)
            case 1 => // wraparound rects included (min > max in lon)
              Bounds.Rect((clon + 340) % 360, (clon + 20) % 360,
                clat - 8, clat + 8)
            case _ => // simple (non-self-intersecting) triangle
              val r1 = 5 + rnd.nextDouble() * 8
              val r2 = 5 + rnd.nextDouble() * 8
              val r3 = 5 + rnd.nextDouble() * 8
              Bounds.Polygon(Seq(
                (clon, clat + r1), (clon - r2, clat - r2 * 0.6),
                (clon + r3, clat - r3 * 0.6)))
          }
          val ti = if (rnd.nextBoolean()) None
            else Some(TimeInterval(
              f"2024-01-${2 + rnd.nextInt(10)}%02d 00:00:00",
              f"2024-01-${14 + rnd.nextInt(10)}%02d 00:00:00"))
          val whereQl = if (rnd.nextBoolean()) " WHERE id % 2 = 0" else ""
          val text = s"SELECT id, lon, lat FROM detections$whereQl " +
            "ORDER BY id"
          val got = ti match {
            case Some(t) => ql2.query(text, b, t)
            case None => ql2.query(text, b)
          }
          var twin = det.filter(b.predicate(col("lon"), col("lat")))
          ti.foreach(t => twin = twin.filter(t.predicate(col("ts"))))
          if (whereQl.nonEmpty) twin = twin.filter(col("id") % 2 === 0)
          assert(got.collect().toSeq ==
            twin.select("id", "lon", "lat").orderBy("id").collect().toSeq,
            s"seed $i bounds mismatch: $b time=$ti where='$whereQl'")
        case 1 => // FROM-item overrides vs the LIBRARY CrossMatch
          val n = 1 + rnd.nextInt(2)
          val r = 0.1 + rnd.nextDouble() * 0.7
          val outer = rnd.nextBoolean() && n == 1
          val opts = (if (outer) Seq("outer") else Nil) ++
            Seq(s"nmax=$n", s"dmax=$r")
          val text = s"SELECT id, obj_id AS m, _DIST AS d " +
            s"FROM detections, objects(${opts.mkString(", ")})"
          val got = ql2.query(text).collect()
            .map(x => (x.getLong(0), Option(x.get(1)), Option(x.get(2))))
            .toSet
          val pairs = graft.spatial.CrossMatch.nearest(det,
            graft.spatial.CrossMatch.Blocking(obj),
            "id", "lon", "lat", "obj_id", "olon", "olat", r, n,
            snapped = true)
          val twin =
            if (!outer) pairs.select(col("a_id").as("id"),
              col("b_id").as("m"), col("dist_deg").as("d"))
            else det.select(col("id")).join(
              pairs.select(col("a_id"), col("b_id").as("m"),
                col("dist_deg").as("d")),
              col("id") === col("a_id"), "left_outer").drop("a_id")
          val want = twin.collect()
            .map(x => (x.getLong(0), Option(x.get(1)), Option(x.get(2))))
            .toSet
          assert(got == want,
            s"seed $i override mismatch (nmax=$n dmax=$r outer=$outer): " +
              s"only-ql=${(got -- want).take(3)} " +
              s"only-lib=${(want -- got).take(3)}")
        case 2 => // @snap composed with WHERE/ORDER BY/LIMIT
          val at = 1 + rnd.nextInt(3)
          val m = 1 + rnd.nextInt(2)
          val text = s"SELECT k, v FROM snaps@$at WHERE k % 2 = " +
            s"${at % 2} ORDER BY k LIMIT $m"
          val got = sql3.query(text).collect().toSeq
          val want = sdb.table("snaps", Some(at.toLong))
            .filter(col("k") % 2 === at % 2)
            .orderBy("k").limit(m).collect().toSeq
          assert(got == want, s"seed $i @snap mismatch at=$at")
        case _ => // set operators over a BOUNDED spatial item
          val b = Bounds.Cone(rnd.nextDouble() * 360,
            rnd.nextDouble() * 30 - 15, 10 + rnd.nextDouble() * 15)
          val op = Seq("UNION", "INTERSECT", "EXCEPT")(rnd.nextInt(3))
          val text = "SELECT id FROM detections WHERE id % 2 = 0 " +
            s"$op SELECT id FROM detections WHERE id % 3 = 0 ORDER BY id"
          val got = ql2.query(text, b).as[Long].collect().toSeq
          val bd = det.filter(b.predicate(col("lon"), col("lat")))
            .select("id")
          val a2 = bd.filter(col("id") % 2 === 0)
          val a3 = bd.filter(col("id") % 3 === 0)
          val twin = (op match {
            case "UNION" => a2.union(a3).distinct()
            case "INTERSECT" => a2.intersect(a3)
            case _ => a2.except(a3)
          }).orderBy("id")
          assert(got == twin.as[Long].collect().toSeq,
            s"seed $i set-op mismatch ($op, $b)")
      }
    }
  }

  test("a user column named a_id/b_id survives the declared xmatch") {
    // the pair relation's internal keys are renamed to reserved names
    // before the attach joins (review r19): a driving table carrying
    // its OWN a_id/b_id must keep it — previously drop(\"a_id\")
    // removed the user's column along with the join key
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ql_aid").toString
    val dets = (0L until 50L).map(i => (i, i * 7.2 % 360,
      (i % 50) - 25.0, s"batch_${i % 3}"))
      .toDF("id", "lon", "lat", "a_id") // a_id is USER data here
    val objs = (0L until 50L).map(i => (i + 500, i * 7.2 % 360,
      (i % 50) - 25.0)).toDF("oid", "olon", "olat")
    dets.write.parquet(s"$root/dets.parquet")
    objs.write.parquet(s"$root/objs.parquet")
    val ql2 = LsdQL(LsdDb(spark, root), Nil, spatialJoins = Seq(
      SpatialJoinDef("dets", "id", "lon", "lat",
        "objs", "oid", "olon", "olat", radiusDeg = 0.01, nmax = 1)))
    val got = ql2.query(
      "SELECT id, a_id, oid, _NR FROM dets, objs ORDER BY id")
    assert(got.columns.toSeq == Seq("id", "a_id", "oid", "_NR"))
    val rows = got.collect()
    assert(rows.length == 50 &&
      rows.forall(r => r.getString(1).startsWith("batch_")),
      "the user's a_id column must survive with its own values")
  }

  test("bounds compose with the margin-routed xmatch: bounded driving " +
    "set, stored catalog never exploded") {
    import graft.spatial.Bounds
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // detections: directory layout (boundable); objects: CLUSTERED
    // margin layout (routable) — the two write-time layouts LSD's
    // survey db kept, composed in one query
    val root = Files.createTempDirectory("graft_ql_bm").toString
    val rnd = new scala.util.Random(53)
    val obj = (0L until 200L).map(i => (i, rnd.nextDouble() * 360,
      rnd.nextDouble() * 50 - 25)).toDF("obj_id", "olon", "olat")
    val det = obj.selectExpr("obj_id * 10 AS id",
      "olon + 0.002 AS lon", "olat + 0.002 AS lat")
    graft.sources.SpatialWriter.write(det, "lon", "lat", 3,
      s"$root/dets.parquet")
    graft.sources.SpatialWriter.writeClustered(obj, "olon", "olat", 5,
      s"$root/objs.parquet", margin = Some(0.1))
    val db2 = LsdDb(spark, root)
    val rel = SpatialJoinDef("dets", "id", "lon", "lat",
      "objs", "obj_id", "olon", "olat",
      radiusDeg = 0.05, nmax = 1, snapD6 = true)
    val ql2 = LsdQL(db2, Nil, spatialJoins = Seq(rel))
    val b = Bounds.Cone(123.4567, 0.7654, 60.4321)
    val got = ql2.query(
      "SELECT id, obj_id, _DIST FROM dets, objs ORDER BY id", b)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"bound lost directory pruning:\n${plan.take(1500)}")
    assert(!plan.contains("Generate"),
      "margin route must fire under a bound too (no query-time explode)")
    // twin: bounded driving set through the LIBRARY snapped relation
    val bdet = db2.table("dets")
      .filter(b.predicate(col("lon"), col("lat")))
    val twin = graft.spatial.CrossMatch.nearest(bdet,
      graft.spatial.CrossMatch.Blocking(db2.table("objs")),
      "id", "lon", "lat", "obj_id", "olon", "olat", 0.05, 1,
      snapped = true)
      .select(col("a_id"), col("b_id"), col("dist_deg")).orderBy("a_id")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSeq ==
      twin.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSeq)
    assert(got.count() > 0 && got.count() < 200,
      "the bound must cut some but not all matches for a real test")
  }

  test("derived tables in FROM: inline subquery under an alias") {
    val df = ql.query(
      """SELECT o_orderkey, qualify FROM
        |  (SELECT o_orderkey, o_totalprice AS qualify FROM orders) AS t
        |WHERE qualify > 400000""".stripMargin)
    assert(df.count() ==
      db.table("orders").filter("o_totalprice > 400000").count())
    // bare derived table (generated alias) + aggregation over it
    val agg = ql.query(
      """SELECT count(*) AS n FROM
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""".stripMargin)
    assert(agg.collect().head.getLong(0) ==
      db.table("orders").filter("o_totalprice > 400000").count())
    // a derived table joins to base tables through a JoinDef naming
    // its alias, exactly like a CTE
    val q2 = LsdQL(db, LsdQL.standardJoins :+
      JoinDef("big", "o_custkey", "customer", "c_custkey"))
    val joined = q2.query(
      """SELECT c_name, o_orderkey FROM
        |  (SELECT o_orderkey, o_custkey FROM orders
        |   WHERE o_totalprice > 400000) big, customer""".stripMargin)
    assert(joined.count() ==
      db.table("orders").filter("o_totalprice > 400000").count())
    // malformed tail fails loudly
    intercept[IllegalArgumentException] {
      ql.query("SELECT 1 FROM (SELECT o_orderkey FROM orders) 2bad")
    }
  }

  test("QUALIFY/derived-table parser edges fail loudly or stay identifiers") {
    // `overflow`-style identifiers are not window context (\bOVER\b)
    val aliased = ql.query(
      "SELECT o_totalprice AS overcount, o_orderkey AS qualify " +
        "FROM orders LIMIT 3")
    assert(aliased.columns.toSeq == Seq("overcount", "qualify"))
    // window-free QUALIFY (e.g. over a CTE-computed rank) is rejected
    // LOUDLY with the DuckDB/Snowflake-parity hint, not a cryptic
    // no-such-table error
    val e = intercept[IllegalArgumentException] {
      ql.query(
        """WITH t AS (SELECT o_custkey, row_number() OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
          |  FROM orders)
          |SELECT * FROM t QUALIFY rn = 1""".stripMargin)
    }
    assert(e.getMessage.contains("QUALIFY needs a window function"),
      e.getMessage)
    // dangling AS after a derived table is malformed, never an alias
    val e2 = intercept[IllegalArgumentException] {
      ql.query("SELECT 1 FROM (SELECT o_orderkey FROM orders) AS")
    }
    assert(e2.getMessage.contains("malformed derived-table"))
    // duplicate derived aliases would silently drop a subquery
    val e3 = intercept[IllegalArgumentException] {
      ql.query("SELECT 1 FROM (SELECT o_orderkey FROM orders) x, " +
        "(SELECT o_custkey FROM orders) x")
    }
    assert(e3.getMessage.contains("duplicate derived-table alias"))
    // an inner _ID inside a derived table never leaks to the outer
    // query's _ID resolution (the alias has no IdSpec)
    val idDf = ql.query(
      "SELECT x FROM (SELECT _ID AS x FROM orders) d ORDER BY x LIMIT 3")
    assert(idDf.count() == 3)
  }

  test("QUALIFY may reference a named WINDOW; `qualify` stays a column name") {
    // the qualify wrapper must re-emit the WINDOW clause or `OVER w`
    // in the predicate cannot resolve
    val df = ql.query(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey)
        |QUALIFY row_number() OVER w = 1""".stripMargin)
    assert(df.count() ==
      db.table("orders").select("o_custkey").distinct().count())
    // in a window-free query, `qualify` is an ordinary identifier —
    // the clause keyword only opens with window context present
    val colq = ql.query(
      "SELECT o_orderkey, o_totalprice AS qualify FROM orders LIMIT 4")
    assert(colq.columns.toSeq == Seq("o_orderkey", "qualify"))
    val whereq = ql.query(
      """WITH t AS (SELECT o_orderkey, o_totalprice AS qualify FROM orders)
        |SELECT o_orderkey FROM t WHERE qualify > 400000""".stripMargin)
    assert(whereq.count() ==
      db.table("orders").filter("o_totalprice > 400000").count())
  }

  test("named WINDOW clause resolves; `window` stays usable as a column") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = ql.query(
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(rank() OVER w AS INT) AS rnk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val twin = db.table("orders")
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("int").as("rn"),
        rank().over(w).cast("int").as("rnk"))
    assert(df.collect().toSet == twin.collect().toSet)
    // a column ALIASED `window` must not be mistaken for the clause
    val col2 = ql.query(
      "SELECT o_orderkey, o_totalprice AS window FROM orders LIMIT 5")
    assert(col2.columns.toSeq == Seq("o_orderkey", "window"))
  }

  test("query(text, bounds): cone bound round-trips the DataFrame twin") {
    import graft.spatial.Bounds
    import org.apache.spark.sql.functions.col
    val root = graft.operators.Joins.ensureQlBoundsDb(spark, sfDir)
    val db2 = LsdDb(spark, root)
    // wide test cone: the spec runs at sf0.001 (150 rows), where the
    // bench query's 8-deg cone can legitimately select nothing
    val b = Bounds.Cone(180.1234, 0.6543, 25.4321)
    val got = LsdQL(db2, Nil)
      .query("SELECT id, lon, lat FROM customer_sky ORDER BY id", b)
    // twin: the DataFrame-API footprint recipe over the same layout
    val meta = db2.spatialMeta("customer_sky").get
    val twin = db2.table("customer_sky")
      .filter(b.predicate(col("lon"), col("lat")))
      .orderBy("id").select("id", "lon", "lat")
    assert(got.collect().toSeq == twin.collect().toSeq)
    assert(got.count() > 0, "cone must select something at this SF")
    // and the bounded plan pruned directories (cell PartitionFilters)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"bounded read must prune cell= directories:\n${plan.take(2000)}")
    assert(meta._3 == 4)
  }

  test("query(text, bounds): rect bound via IdSpec (predicate-only path)") {
    import graft.spatial.Bounds
    import org.apache.spark.sql.functions.col
    // a FLAT parquet table (no SpatialWriter sidecar): bounding must
    // fall back to the exact predicate over the registered IdSpec's
    // coordinate columns — no directories to prune, still bounded
    val root = Files.createTempDirectory("graft_ql_bounds_flat").toString
    val sky = graft.operators.Joins.ensureQlBoundsDb(spark, sfDir)
    LsdDb(spark, sky).table("customer_sky")
      .write.mode("overwrite").parquet(s"$root/sky_flat.parquet")
    val db2 = LsdDb(spark, root)
    val ql2 = LsdQL(db2, Nil,
      idSpecs = Map("sky_flat" -> IdSpec("lon", "lat", "id")))
    val b = Bounds.Rect(10.5, 50.5, -5.25, 5.25)
    val got = ql2.query(
      "SELECT id, lon, lat FROM sky_flat ORDER BY id", b)
    val twin = db2.table("sky_flat")
      .filter(b.predicate(col("lon"), col("lat")))
      .orderBy("id").select("id", "lon", "lat")
    assert(got.collect().toSeq == twin.collect().toSeq)
    assert(got.count() > 0)
  }

  test("query(text, time): interval bound round-trips; timeKeys fallback") {
    import graft.spatial.TimeInterval
    import org.apache.spark.sql.functions.col
    val t = TimeInterval("2024-01-08 06:00:00", "2024-01-12 20:00:00")
    // layout path: t_bucket directory pruning + exact refine
    val path = graft.operators.Core.ensureTimePartitionedEvents(spark, sfDir)
    val root = new java.io.File(path).getParent
    val db2 = LsdDb(spark, root)
    val got = LsdQL(db2, Nil)
      .query("SELECT event_id, ts FROM events_daily ORDER BY event_id", t)
    val twin = db.table("events")
      .filter(t.predicate(col("ts")))
      .select("event_id", "ts").orderBy("event_id")
    assert(got.collect().toSeq == twin.collect().toSeq)
    assert(got.count() > 0)
    assert(got.queryExecution.executedPlan.toString
      .contains("PartitionFilters"), "bucket dirs must prune")
    // predicate-only fallback: the RAW events table has no layout but
    // a declared time column (standardTimeKeys)
    val got2 = ql.query(
      "SELECT event_id, ts FROM events ORDER BY event_id", t)
    assert(got2.collect().toSeq == twin.collect().toSeq)
    // and a query with no time-capable table errors loudly
    val e = intercept[IllegalArgumentException] {
      ql.query("SELECT o_orderkey FROM orders LIMIT 3", t)
    }
    assert(e.getMessage.contains("time bound did not apply"))
  }

  test("query(text, bounds, time): the full (space, time) bounds pair") {
    import graft.spatial.{Bounds, TimeInterval}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a synthetic detection table with BOTH sky coords and a ts:
    // spatial lowers through the layout, time through the predicate
    val tmp = Files.createTempDirectory("graft_ql_st").toString
    val rnd = new scala.util.Random(17)
    val dets = (0L until 800L).map { i =>
      (i, rnd.nextDouble() * 360,
        math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)),
        java.sql.Timestamp.valueOf(
          f"2024-01-${1 + rnd.nextInt(28)}%02d 12:00:00"))
    }.toDF("det_id", "lon", "lat", "ts")
    graft.sources.SpatialWriter.write(
      dets, "lon", "lat", level = 4, s"$tmp/dets.parquet")
    val ql2 = LsdQL(LsdDb(spark, tmp), Nil,
      timeKeys = Map("dets" -> "ts"))
    val b = Bounds.Rect(20.0, 200.0, -50.0, 50.0)
    val t = TimeInterval("2024-01-05 00:00:00", "2024-01-20 00:00:00")
    val got = ql2.query(
      "SELECT det_id, lon, lat, ts FROM dets ORDER BY det_id", b, t)
    val twin = LsdDb(spark, tmp).table("dets")
      .filter(b.predicate(col("lon"), col("lat")) &&
        t.predicate(col("ts")))
      .orderBy("det_id").select("det_id", "lon", "lat", "ts")
    assert(got.collect().toSeq == twin.collect().toSeq)
    assert(got.count() > 0)
    // spatial directory pruning still fired with the time predicate on
    assert(got.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [cell"))
  }

  test("query(text, bounds) errors loudly when nothing is boundable") {
    import graft.spatial.Bounds
    val e = intercept[IllegalArgumentException] {
      ql.query("SELECT o_orderkey FROM orders LIMIT 5",
        Bounds.Cone(0.0, 0.0, 1.0))
    }
    assert(e.getMessage.contains("bounds did not apply"))
  }

  test("bounds + _ID: packed ids unchanged by the bound") {
    import graft.spatial.Bounds
    val root = graft.operators.Joins.ensureQlBoundsDb(spark, sfDir)
    val db2 = LsdDb(spark, root)
    val ql2 = LsdQL(db2, Nil,
      idSpecs = Map("customer_sky" -> IdSpec("lon", "lat", "id")))
    val unbounded = ql2
      .query("SELECT id, _ID FROM customer_sky ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bounded = ql2.query(
      "SELECT id, _ID FROM customer_sky ORDER BY id",
      Bounds.Cone(180.1234, 0.6543, 25.4321))
    val rows = bounded.collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(unbounded(r.getLong(0)) == r.getLong(1),
        s"_ID drifted under bounds for id ${r.getLong(0)}"))
  }

  test("bounds + COARSE IdSpec: directory pruning skipped, _ID stable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.spatial.Bounds
    // layout cells FINER than the IdSpec's _ID cells: whole-layout-
    // cell pruning would split an _ID cell and renumber its rows —
    // the guard must fall back to the predicate-only path (review
    // r18; the safe direction idLevel >= layoutLevel is covered by
    // the other bounds+_ID test)
    val tmp = Files.createTempDirectory("graft_ql_coarse").toString
    val rnd = new scala.util.Random(13)
    val cat = (0L until 600L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))))
      .toDF("obj_id", "lon", "lat")
    graft.sources.SpatialWriter.write(
      cat, "lon", "lat", level = 6, s"$tmp/sky.parquet")
    val ql2 = LsdQL(LsdDb(spark, tmp), Nil,
      idSpecs = Map("sky" -> IdSpec("lon", "lat", "obj_id", level = 4)))
    val unbounded = ql2.query("SELECT obj_id, _ID FROM sky ORDER BY obj_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bounded = ql2.query(
      "SELECT obj_id, _ID FROM sky ORDER BY obj_id",
      Bounds.Rect(0.0, 90.0, -60.0, 60.0))
    val rows = bounded.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(unbounded(r.getLong(0)) == r.getLong(1),
      s"_ID drifted under bounds for obj ${r.getLong(0)}"))
    // and the fallback really skipped directory pruning (no cell
    // PartitionFilters — the whole table is scanned, then filtered)
    assert(!bounded.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [cell"),
      "coarse-IdSpec bound must not prune cells")
    // a bounded query WITHOUT _ID on the same table still prunes
    val pruned = ql2.query("SELECT obj_id FROM sky ORDER BY obj_id",
      Bounds.Rect(0.0, 90.0, -60.0, 60.0))
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [cell"))
    assert(pruned.collect().map(_.getLong(0)).toSeq ==
      rows.map(_.getLong(0)).toSeq)
  }

  test("a select alias named `qualify` is not promoted to a clause") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    // r17 advice: with window context present, `AS qualify` in the
    // select list used to be promoted to a QUALIFY clause and fail
    // analysis confusingly; the clause is post-FROM by grammar
    val df = ql.query(
      """SELECT o_orderkey, o_totalprice AS qualify,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |FROM orders
        |ORDER BY o_orderkey LIMIT 10""".stripMargin)
    assert(df.columns.toSeq == Seq("o_orderkey", "qualify", "rn"))
    assert(df.count() == 10)
    // and a REAL QUALIFY clause in the same shape still works
    val topk = ql.query(
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |FROM orders
        |QUALIFY rn <= 1
        |ORDER BY o_custkey""".stripMargin)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val twin = db.table("orders")
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 1)
      .select("o_custkey", "o_orderkey", "rn").orderBy("o_custkey")
    assert(topk.collect().toSeq == twin.collect().toSeq)
  }

  test("query(text, bounds): polygon bound round-trips the DataFrame twin") {
    import graft.spatial.Bounds
    import org.apache.spark.sql.functions.col
    val root = graft.operators.Joins.ensureQlBoundsDb(spark, sfDir)
    val db2 = LsdDb(spark, root)
    // wide non-convex polygon (~ a quarter of the synthetic band) so
    // sf0.001's 150 rows select something
    val b = Bounds.Polygon(Seq(
      (20.0023, -25.0017), (170.0041, -25.0073), (170.0011, 5.0061),
      (100.0057, 5.0013), (100.0019, 28.0087), (20.0049, 28.0031)))
    val got = LsdQL(db2, Nil)
      .query("SELECT id, lon, lat FROM customer_sky ORDER BY id", b)
    val twin = db2.table("customer_sky")
      .filter(b.predicate(col("lon"), col("lat")))
      .orderBy("id").select("id", "lon", "lat")
    assert(got.collect().toSeq == twin.collect().toSeq)
    assert(got.count() > 0, "polygon must select something at this SF")
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"bounded read must prune cell= directories:\n${plan.take(2000)}")
  }

  test("snapD6 spatial relation: QL matches the applySnapped twin") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_ql_snap").toString
    // one driving source; candidates at controlled lat offsets so the
    // snapped semantics are visible at the QL surface: the raw-boundary
    // candidate (0.1000004 > r) is IN because it snaps to the radius,
    // and the snapped tie (ids 5/7 both at 0.050000) orders by id
    Seq((1L, 10.0, 0.0)).toDF("oid", "olon", "olat")
      .write.parquet(s"$tmp/obj.parquet")
    Seq((5L, 10.0, 0.0500004), (7L, 10.0, 0.0500002),
      (11L, 10.0, 0.1000004), (12L, 10.0, 0.1000006))
      .toDF("cid", "clon", "clat").write.parquet(s"$tmp/cand.parquet")
    val db2 = LsdDb(spark, tmp)
    val q = LsdQL(db2, joins = Nil, spatialJoins = Seq(
      SpatialJoinDef("obj", "oid", "olon", "olat",
        "cand", "cid", "clon", "clat", radiusDeg = 0.1, nmax = 4,
        snapD6 = true)))
    val got = q.query(
      "SELECT cid, _DIST, _NR FROM obj, cand ORDER BY _NR")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(got.toSeq == Seq((5L, 0.05, 1), (7L, 0.05, 2), (11L, 0.1, 3)),
      s"got ${got.toSeq}")
    // parity with the direct snapped nearest call
    val twin = graft.spatial.CrossMatch.nearest(db2.table("obj"),
      graft.spatial.CrossMatch.Blocking(db2.table("cand")),
      "oid", "olon", "olat", "cid", "clon", "clat", 0.1, 4,
      snapped = true)
      .orderBy("match_rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq == twin.toSeq)
    // the raw relation on the same tables differs exactly as designed:
    // id 11 out, ids 5/7 in raw-distance order
    val raw = LsdQL(db2, joins = Nil, spatialJoins = Seq(
      SpatialJoinDef("obj", "oid", "olon", "olat",
        "cand", "cid", "clon", "clat", radiusDeg = 0.1, nmax = 4)))
      .query("SELECT cid FROM obj, cand ORDER BY _NR")
      .collect().map(_.getLong(0))
    assert(raw.toSeq == Seq(7L, 5L))
  }

  test("FROM-item match overrides: nmax/dmax narrow the declared relation") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_ql_ovr").toString
    // one driving source; candidates at 0.05, 0.10, 0.20 deg
    Seq((1L, 10.0, 0.0)).toDF("oid", "olon", "olat")
      .write.parquet(s"$tmp/obj.parquet")
    Seq((5L, 10.0, 0.05), (7L, 10.0, 0.10), (9L, 10.0, 0.20))
      .toDF("cid", "clon", "clat").write.parquet(s"$tmp/cand.parquet")
    val db2 = LsdDb(spark, tmp)
    val ql = LsdQL(db2, joins = Nil, spatialJoins = Seq(
      SpatialJoinDef("obj", "oid", "olon", "olat",
        "cand", "cid", "clon", "clat", radiusDeg = 0.25, nmax = 3,
        snapD6 = true)))
    // declared relation: all three candidates
    assert(ql.query("SELECT cid FROM obj, cand").count() == 3)
    // dmax narrows the radius for THIS query; nmax the match count
    val narrowed = ql.query(
      "SELECT cid, _NR FROM obj, cand(dmax=0.12) ORDER BY _NR")
      .collect().map(_.getLong(0))
    assert(narrowed.toSeq == Seq(5L, 7L))
    assert(ql.query("SELECT cid FROM obj, cand(nmax=1)")
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // composes with (outer) and is order/case-insensitive
    assert(ql.query(
      "SELECT cid FROM obj, cand(outer, NMAX=2, dmax=0.12)").count() == 2)
    // loud failures: unknown option, equi-path item, driving item
    intercept[IllegalArgumentException] {
      ql.query("SELECT cid FROM obj, cand(dmin=0.1)")
    }
    intercept[IllegalArgumentException] { // empty option list
      ql.query("SELECT cid FROM obj, cand()")
    }
    intercept[IllegalArgumentException] { // stray comma
      ql.query("SELECT cid FROM obj, cand(outer,)")
    }
    intercept[IllegalArgumentException] { // duplicate key
      ql.query("SELECT cid FROM obj, cand(dmax=0.1, dmax=0.2)")
    }
    intercept[IllegalArgumentException] {
      LsdQL.forDb(db).query(
        "SELECT o_orderkey FROM orders, customer(nmax=2)")
    }
    intercept[IllegalArgumentException] {
      ql.query("SELECT oid FROM obj(nmax=1), cand")
    }
  }

  test("window over grouped output (OVER after GROUP BY)") {
    val df = ql.query(
      """SELECT o_custkey, count(*) AS cnt,
        |  CAST(rank() OVER (ORDER BY count(*) DESC, o_custkey) AS INT)
        |    AS busy_rank
        |FROM orders GROUP BY o_custkey
        |ORDER BY busy_rank LIMIT 5""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 5 && rows.head.getInt(2) == 1)
    // ranks ascend and counts are non-increasing in rank order
    assert(rows.map(_.getInt(2)).toSeq == (1 to 5).toSeq)
    val cnts = rows.map(_.getLong(1)).toSeq
    assert(cnts == cnts.sorted.reverse)
  }

  /** Shared fixture for the explain/route tests: a db whose objects
    * catalog exists as a margin layout (objs_m, with duplicate alt_*
    * coordinate columns for the mismatch case), a plain copy (objs_p),
    * and a too-fine margin layout (objs_f); detections stored as a
    * DIRECTORY cell layout so bounds lines appear too. */
  private lazy val explainRoot: String = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_ql_explain").toString
    val rnd = new scala.util.Random(53)
    val objs = (0L until 200L).map(i => (i, rnd.nextDouble() * 360,
      rnd.nextDouble() * 50 - 25)).toDF("obj_id", "obj_lon", "obj_lat")
    val dets = objs.select((col("obj_id") * 10).as("det_id"),
      (col("obj_lon") + 0.003).as("det_lon"),
      (col("obj_lat") + 0.003).as("det_lat"))
    graft.sources.SpatialWriter.write(dets, "det_lon", "det_lat", 4,
      s"$root/dets.parquet")
    graft.sources.SpatialWriter.writeClustered(
      objs.withColumn("alt_lon", col("obj_lon"))
        .withColumn("alt_lat", col("obj_lat")),
      "obj_lon", "obj_lat", 6, s"$root/objs_m.parquet",
      margin = Some(0.06))
    objs.write.parquet(s"$root/objs_p.parquet")
    graft.sources.SpatialWriter.writeClustered(objs, "obj_lon",
      "obj_lat", 6, s"$root/objs_f.parquet", margin = Some(0.95))
    root
  }

  private def explainQl(sjs: SpatialJoinDef*): LsdQL =
    LsdQL(LsdDb(spark, explainRoot), Nil, spatialJoins = sjs.toSeq)

  private def explainRel(right: String, radius: Double,
                         snap: Boolean = true,
                         lonR: String = "obj_lon", latR: String = "obj_lat",
                         ht: Option[Long] = None) =
    SpatialJoinDef("dets", "det_id", "det_lon", "det_lat",
      right, "obj_id", lonR, latR, radiusDeg = radius, nmax = 1,
      snapD6 = snap, hotThreshold = ht, salts = 4)

  test("explain: the margin-vs-blocking decision surfaces with a " +
    "distinct reason per fallback condition") {
    def text(t: String, over: String = "") =
      s"SELECT det_id, obj_id, _DIST FROM dets, $t$over"
    def one(ql: LsdQL, t: String, over: String = "") = {
      val lines = ql.explain(text(t, over)).filter(_.startsWith("xmatch"))
      assert(lines.length == 1, lines.mkString("\n"))
      lines.head
    }
    // route taken: level + effective radius + no hedging
    val taken = one(explainQl(explainRel("objs_m", 0.05)), "objs_m")
    assert(taken.contains("margin cache (level=6"), taken)
    // 1. per-query dmax beyond the written margin
    val dmax = one(explainQl(explainRel("objs_m", 0.05)), "objs_m",
      "(dmax=0.07)")
    assert(dmax.contains("blocking join") &&
      dmax.contains("written margin"), dmax)
    // 2. no margin layout at all
    val plainT = one(explainQl(explainRel("objs_p", 0.05)), "objs_p")
    assert(plainT.contains("no margin layout"), plainT)
    // 3. CTE shadowing the stored table
    val cteLines = explainQl(explainRel("objs_m", 0.05)).explain(
      "WITH objs_m AS (SELECT * FROM objs_m) " + text("objs_m"))
      .filter(_.startsWith("xmatch"))
    assert(cteLines.exists(_.contains("CTE/derived")),
      cteLines.mkString("\n"))
    // 4. relation declared on coordinates the layout was not written on
    val alt = one(explainQl(explainRel("objs_m", 0.05,
      lonR = "alt_lon", latR = "alt_lat")), "objs_m")
    assert(alt.contains("layout coordinates"), alt)
    // 5. written level too fine for the radius (closure violation)
    val fine = one(explainQl(explainRel("objs_f", 0.9, snap = false)),
      "objs_f")
    assert(fine.contains("too fine"), fine)
    // 6. skew mitigation now COMPOSES: the route fires and says so
    val hot = one(explainQl(explainRel("objs_m", 0.05,
      ht = Some(5L))), "objs_m")
    assert(hot.contains("margin cache") &&
      hot.contains("hot cells > 5"), hot)
    // explain never executes INTO
    val qlM = explainQl(explainRel("objs_m", 0.05))
    val intoLines = qlM.explain(text("objs_m") + " INTO xnew")
    assert(intoLines.exists(_.contains("INTO xnew: not executed")))
    assert(!new java.io.File(s"$explainRoot/xnew.parquet").exists,
      "explain must not materialize INTO targets")
    // bounds lowering surfaces too (directory-pruned driving layout)
    val bounded = qlM.explain(text("objs_m"),
      graft.spatial.Bounds.Cone(123.4, -12.3, 9.0))
    assert(bounded.exists(l => l.startsWith("bounds dets") &&
      l.contains("cell directories")), bounded.mkString("\n"))
  }

  test("margin+salt at the QL surface: hotThreshold no longer forces " +
    "the blocking path, rows identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a deep DRIVING field (100 detections crammed into ~0.1° — one
    // hot blocking cell) over a stored margin catalog: the relation
    // with skew mitigation must still route through the cache, same
    // rows as without
    val root = Files.createTempDirectory("graft_ql_msalt").toString
    val rnd = new scala.util.Random(59)
    val objs = ((0L until 150L).map(i => (i, rnd.nextDouble() * 360,
      rnd.nextDouble() * 50 - 25)) ++
      (150L until 250L).map(i => (i, 180.0 + rnd.nextDouble() * 0.1,
        rnd.nextDouble() * 0.1)))
      .toDF("obj_id", "obj_lon", "obj_lat")
    val dets = objs.select((col("obj_id") * 10).as("det_id"),
      (col("obj_lon") + 0.003).as("det_lon"),
      (col("obj_lat") + 0.003).as("det_lat"))
    dets.write.parquet(s"$root/dets.parquet")
    graft.sources.SpatialWriter.writeClustered(objs, "obj_lon",
      "obj_lat", 6, s"$root/objs_m.parquet", margin = Some(0.06))
    val text = "SELECT det_id, obj_id, _DIST FROM dets, objs_m " +
      "ORDER BY det_id"
    def run(ht: Option[Long]) =
      LsdQL(LsdDb(spark, root), Nil, spatialJoins = Seq(
        explainRel("objs_m", 0.05, ht = ht))).query(text)
    val noHt = run(None)
    val withHt = run(Some(50L)) // the deep field (100 rows/cell) is hot
    // the salt replication is itself a Generate (bounded: x salts over
    // the hot slice, output column `_salt`) — the route marker is that
    // EVERY Generate in the plan emits `_salt`; the blocking path's
    // neighbor explode emits the blocking `cell` instead
    val genLines = withHt.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Generate")).toSeq
    assert(genLines.nonEmpty && genLines.forall(_.contains("[_salt#")),
      s"margin+salt must not explode the catalog at query time:\n" +
        genLines.mkString("\n"))
    assert(noHt.collect().toSeq == withHt.collect().toSeq,
      "skew mitigation is a physical choice — rows must be identical")
    assert(withHt.select(col("det_id")).distinct().count() == 250)
  }

  test("property: route agnosticism — margined and plain layouts " +
    "answer identically under random dmax/nmax/skew") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the r19 verdict's asked-for generalization of the bounds x margin
    // composition test: the SAME declared relation over a margined and
    // an unmargined copy of the catalog, driven with random per-query
    // overrides (dmax above/below the written margin, random nmax,
    // skew mitigation on/off) must produce identical answers on
    // whichever route each side takes.
    val rnd0 = new scala.util.Random(61)
    val objs = ((0L until 250L).map(i => (i, rnd0.nextDouble() * 360,
      rnd0.nextDouble() * 120 - 60)) ++
      (250L until 370L).map(i => (i, 180.0 + rnd0.nextDouble() * 0.2,
        rnd0.nextDouble() * 0.2)))
      .toDF("obj_id", "obj_lon", "obj_lat")
    val dets = objs.select((col("obj_id") * 10).as("det_id"),
      (col("obj_lon") + 0.003).as("det_lon"),
      (col("obj_lat") + 0.003).as("det_lat"))
    val roots = Seq("m", "p").map { kind =>
      val r = Files.createTempDirectory(s"graft_ql_routeprop_$kind")
        .toString
      // dets as a DIRECTORY cell layout, so the bounded variant below
      // exercises bounds pruning x route on both dbs
      graft.sources.SpatialWriter.write(dets, "det_lon", "det_lat", 4,
        s"$r/dets.parquet")
      if (kind == "m")
        graft.sources.SpatialWriter.writeClustered(objs, "obj_lon",
          "obj_lat", 6, s"$r/objs.parquet", margin = Some(0.11))
      else objs.write.parquet(s"$r/objs.parquet")
      r
    }
    var routedMargin = 0
    var routedBlocking = 0
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val radius = 0.02 + rnd.nextDouble() * 0.06
      val ht = if (rnd.nextBoolean()) Some(40L) else None
      val nm = 1 + rnd.nextInt(3)
      val dm = 0.02 + rnd.nextDouble() * 0.11 // may exceed written 0.11
      // a random cone over the data region — composed with the route
      // square, the bounded answers must agree too (bounds prune the
      // DRIVING layout; the route concerns the matched side)
      val cone = graft.spatial.Bounds.Cone(
        rnd.nextDouble() * 360, rnd.nextDouble() * 100 - 50,
        5.0 + rnd.nextDouble() * 25)
      val text = f"SELECT det_id, obj_id, _DIST, _NR FROM dets, " +
        f"objs(nmax=$nm%d, dmax=$dm%.4f) ORDER BY det_id, _NR"
      def collect(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(x => (x.getLong(0), x.getLong(1),
          x.getDouble(2), x.getInt(3))).toSeq
      val Seq((gotM, boundM), (gotP, boundP)) = roots.map { r =>
        val ql = LsdQL(LsdDb(spark, r), Nil, spatialJoins = Seq(
          SpatialJoinDef("dets", "det_id", "det_lon", "det_lat",
            "objs", "obj_id", "obj_lon", "obj_lat",
            radiusDeg = radius, nmax = 2, snapD6 = true,
            hotThreshold = ht, salts = 4)))
        if (r == roots.head) {
          val line = ql.explain(text).find(_.startsWith("xmatch")).get
          if (line.contains("margin cache")) routedMargin += 1
          else routedBlocking += 1
          // explain <-> executed-plan parity: the reported route must
          // be the one the query actually plans (margin <=> every
          // Generate, if any, is the bounded salt explode)
          val genLines = ql.query(text).queryExecution.executedPlan
            .toString.linesIterator.filter(_.contains("Generate")).toSeq
          val planMargin = genLines.forall(_.contains("[_salt#"))
          assert(planMargin == line.contains("margin cache"),
            s"seed=$seed: explain said '$line' but the plan " +
              s"${if (planMargin) "took" else "did not take"} the " +
              s"margin route:\n${genLines.mkString("\n")}")
        }
        (collect(ql.query(text)), collect(ql.query(text, cone)))
      }
      assert(gotM == gotP,
        s"seed=$seed radius=$radius nmax=$nm dmax=$dm ht=$ht: " +
          s"routes diverged (${gotM.length} vs ${gotP.length} rows)")
      assert(boundM == boundP,
        s"seed=$seed $cone: BOUNDED routes diverged " +
          s"(${boundM.length} vs ${boundP.length} rows)")
      // the bound restricts the unbounded relation, never invents rows
      assert(boundM.toSet.subsetOf(gotM.toSet))
    }
    // the sweep must actually exercise BOTH routes on the margined db
    assert(routedMargin > 0 && routedBlocking > 0,
      s"sweep degenerate: margin=$routedMargin blocking=$routedBlocking")
  }
}
