package graft.tools

import graft.SpecBase

import java.nio.file.Files

class CliSpec extends SpecBase {
  import spark.implicits._

  test("QueryCli runs an LsdQL query end to end") {
    // must not throw; rendering goes to stdout
    QueryCli.main(Array(sfDir,
      "SELECT o_orderkey, c_name FROM orders, customer WHERE o_totalprice > 400000",
      "5"))
  }

  test("QueryCli handles aggregation, multi-hop paths and LIMIT") {
    QueryCli.main(Array(sfDir,
      """SELECT r_name, count(*) AS n FROM lineitem, region
        |GROUP BY r_name HAVING count(*) > 0
        |ORDER BY n DESC LIMIT 3""".stripMargin, "5"))
  }

  test("FootprintCli enumerates cone/rect/polygon cells and prunes a layout") {
    // rect cover is exact: cells x cellArea >= exact area, and every
    // enumerated cell is in range
    val (rc, lvl, Some(area), _) = FootprintCli.enumerate(
      Array("rect", "350", "10", "-20", "5", "4")): @unchecked
    assert(rc.nonEmpty && rc.distinct.length == rc.length)
    assert(rc.length * graft.spatial.Footprint.cellAreaDeg2(lvl) >= area)
    // cone cover must contain the cone's center cell
    val (cc, _, Some(carea), _) = FootprintCli.enumerate(
      Array("cone", "123.4", "-12.3", "9.0", "4")): @unchecked
    assert(carea > 0 && cc.nonEmpty)
    // polygon parse + enumeration
    val (pc, _, None, _) = FootprintCli.enumerate(
      Array("polygon", "10,10;40,10;40,35;10,35", "4")): @unchecked
    assert(pc.nonEmpty)
    // against a stored layout: build a tiny SpatialWriter table and
    // check the CLI runs end to end (output goes to stdout)
    val root = Files.createTempDirectory("graft_fp").toString
    val pts = (0L until 300L).map { i =>
      (i, (i * 13 % 3600) / 10.0, (i * 7 % 600) / 10.0 - 30.0)
    }.toDF("id", "lon", "lat")
    graft.sources.SpatialWriter.write(pts, "lon", "lat", 4, s"$root/sky")
    FootprintCli.main(Array("cone", "123.4", "-12.3", "9.0", "4",
      s"$root/sky"))
  }

  test("AdminCli lists datasets and maintains snapshot tables") {
    val root = Files.createTempDirectory("graft_admin").toString
    // a plain dataset + a snapshot table with two appends
    (1 to 10).map(i => (i, i * 2)).toDF("k", "v")
      .write.parquet(s"$root/plain.parquet")
    graft.sources.Snapshots.append(
      Seq((1, "a")).toDF("k", "s"), s"$root/snaps")
    graft.sources.Snapshots.append(
      Seq((2, "b")).toDF("k", "s"), s"$root/snaps")
    val listed = AdminCli.describe(root).map(r => r._1 -> r._2).toMap
    assert(listed("plain.parquet") == "plain")
    assert(listed("snaps") == "snapshot")
    AdminCli.main(Array("snapshots", s"$root/snaps")) // prints 2 lines
    AdminCli.main(Array("compact", s"$root/snaps"))
    AdminCli.main(Array("vacuum", s"$root/snaps"))
    val es = graft.sources.Snapshots.entries(spark, s"$root/snaps")
    assert(es.length == 1 && es.head.isBase) // history folded + dropped
    assert(graft.sources.Snapshots.read(spark, s"$root/snaps").count() == 2)
  }

  test("XmatchCli declares the relation; QueryCli resolves FROM a, b") {
    import graft.ql.{JoinRegistry, LsdQL}
    import graft.LsdDb
    val root = Files.createTempDirectory("graft_cli_joins").toString
    val rnd = new scala.util.Random(29)
    val objs = (0L until 120L).map(i => (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))))
      .toDF("obj_id", "lon", "lat")
    val dets = objs.selectExpr("obj_id * 10 AS det_id",
      "lon + 0.001 AS det_lon", "lat + 0.001 AS det_lat")
    objs.write.parquet(s"$root/objs.parquet")
    dets.write.parquet(s"$root/dets.parquet")
    XmatchCli.main(Array(root, "dets", "det_id,det_lon,det_lat",
      "objs", "obj_id,lon,lat", "0.05", "1", "dets_x_objs"))
    // the CLI run left a usable _JOINS registry behind
    val (js, sjs) = JoinRegistry.load(spark, root)
    assert(js.isEmpty && sjs.length == 1 && sjs.head.snapD6 &&
      sjs.head.left == "dets" && sjs.head.right == "objs")
    // ...so FROM dets, objs needs NO declaration anywhere
    val df = LsdQL.forDb(LsdDb(spark, root)).query(
      "SELECT det_id, obj_id FROM dets, objs WHERE _NR = 1")
    assert(df.count() == 120)
    QueryCli.main(Array(root,
      "SELECT det_id, obj_id, _DIST FROM dets, objs WHERE _NR = 1", "3"))
    // AdminCli: equi declaration + listing
    AdminCli.main(Array("declare-join", root, "dets", "det_id",
      "dets_x_objs", "a_id"))
    val (js2, sjs2) = JoinRegistry.load(spark, root)
    assert(js2.length == 1 && sjs2.length == 1)
    AdminCli.main(Array("joins", root))
  }

  test("AdminCli make-cache: stored table becomes a margin layout and " +
    "declared xmatches route through it") {
    import graft.ql.{JoinRegistry, LsdQL, SpatialJoinDef}
    import graft.LsdDb
    val root = Files.createTempDirectory("graft_cli_cache").toString
    val rnd = new scala.util.Random(31)
    val objs = (0L until 150L).map(i => (i, rnd.nextDouble() * 360,
      rnd.nextDouble() * 50 - 25)).toDF("obj_id", "olon", "olat")
    val dets = objs.selectExpr("obj_id * 10 AS det_id",
      "olon + 0.003 AS det_lon", "olat + 0.003 AS det_lat")
    objs.write.parquet(s"$root/objs.parquet")
    dets.write.parquet(s"$root/dets.parquet")
    JoinRegistry.declareSpatial(spark, root, SpatialJoinDef(
      "dets", "det_id", "det_lon", "det_lat",
      "objs", "obj_id", "olon", "olat",
      radiusDeg = 0.05, nmax = 1, snapD6 = true))
    val text = "SELECT det_id, obj_id, _DIST FROM dets, objs ORDER BY det_id"
    def run() = LsdQL.forDb(LsdDb(spark, root)).query(text)
    val before = run()
    assert(before.queryExecution.executedPlan.toString.contains("Generate"),
      "pre-cache query must take the blocking (explode) path")
    val beforeRows = before.collect().toSeq
    // snapshot tables are refused (flattening the log would be silent
    // data loss); --clustered flag typos are refused
    intercept[IllegalArgumentException] {
      AdminCli.main(Array("make-cache", root, "objs", "olon", "olat",
        "6", "0.06", "--wrong"))
    }
    AdminCli.main(Array("make-cache", root, "objs", "olon", "olat",
      "6", "0.06", "--clustered"))
    // the sidecar is there, the swap left no debris, and the TABLE
    // view still round-trips the logical schema
    assert(graft.sources.SpatialWriter
      .marginMeta(spark, s"$root/objs.parquet").contains((0.06, 6)))
    assert(!new java.io.File(s"$root/objs.parquet.__cache_tmp").exists &&
      !new java.io.File(s"$root/objs.parquet.__cache_old").exists)
    assert(LsdDb(spark, root).table("objs").columns.toSeq ==
      Seq("obj_id", "olon", "olat"))
    val after = run()
    assert(!after.queryExecution.executedPlan.toString.contains("Generate"),
      "post-cache query must route through the stored margin cache")
    assert(after.collect().toSeq == beforeRows,
      "the cache is a physical layout choice — rows must be identical")
  }

  test("make-cache crash recovery: a retry after a death between the " +
    "swap renames restores the parked original, never deletes it") {
    // review r20: the debris-clearing used to delete __cache_old
    // unconditionally — after a crash between the two renames that
    // directory holds the ONLY copy of a plain table
    val root = Files.createTempDirectory("graft_cli_crash").toString
    val objs = (0L until 80L).map(i =>
      (i, (i * 13 % 3600) / 10.0, (i * 7 % 600) / 10.0 - 30.0))
      .toDF("obj_id", "olon", "olat")
    objs.write.parquet(s"$root/objs.parquet")
    // simulate the crash window: table moved aside, the second rename
    // never ran, half-built tmp debris left behind
    assert(new java.io.File(s"$root/objs.parquet").renameTo(
      new java.io.File(s"$root/objs.parquet.__cache_old")))
    new java.io.File(s"$root/objs.parquet.__cache_tmp").mkdirs()
    graft.sources.MarginCache.build(spark, root, "objs", "olon", "olat",
      6, 0.06, clustered = true)
    assert(graft.sources.SpatialWriter
      .marginMeta(spark, s"$root/objs.parquet").contains((0.06, 6)))
    assert(graft.LsdDb(spark, root).table("objs").count() == 80,
      "every original row must survive the crashed-retry rebuild")
    assert(!new java.io.File(s"$root/objs.parquet.__cache_old").exists &&
      !new java.io.File(s"$root/objs.parquet.__cache_tmp").exists)
  }

  test("make-cache --from-snapshot: a LIVE snapshot catalog takes the " +
    "margin route; a later commit reads as STALE, loudly") {
    import graft.ql.{JoinRegistry, LsdQL, SpatialJoinDef}
    import graft.LsdDb
    val root = Files.createTempDirectory("graft_cli_snapcache").toString
    val rnd = new scala.util.Random(37)
    val objs = (0L until 150L).map(i => (i, rnd.nextDouble() * 360,
      rnd.nextDouble() * 50 - 25)).toDF("obj_id", "olon", "olat")
    val dets = objs.selectExpr("obj_id * 10 AS det_id",
      "olon + 0.003 AS det_lon", "olat + 0.003 AS det_lat")
    dets.write.parquet(s"$root/dets.parquet")
    // the LIVE catalog: a nightly-upserted snapshot table (2 commits)
    graft.sources.Snapshots.append(objs.limit(100), s"$root/objs.parquet")
    graft.sources.Snapshots.append(
      objs.orderBy("obj_id").offset(100), s"$root/objs.parquet")
    JoinRegistry.declareSpatial(spark, root, SpatialJoinDef(
      "dets", "det_id", "det_lon", "det_lat",
      "objs", "obj_id", "olon", "olat",
      radiusDeg = 0.05, nmax = 1, snapD6 = true))
    val text = "SELECT det_id, obj_id, _DIST FROM dets, objs ORDER BY det_id"
    def ql() = LsdQL.forDb(LsdDb(spark, root))
    def run() = ql().query(text)
    def routed(df: org.apache.spark.sql.DataFrame) =
      !df.queryExecution.executedPlan.toString.contains("Generate")
    // no cache yet: blocking path, and explain says exactly why
    val before = run()
    assert(!routed(before), "pre-cache query must take the blocking path")
    val beforeRows = before.collect().toSeq
    assert(ql().explain(text).exists(l => l.contains("blocking join") &&
      l.contains("no margin cache")), ql().explain(text).mkString("\n"))
    // the legacy in-place rewrite REFUSES the live table; and
    // --from-snapshot refuses a plain table
    assert(intercept[IllegalArgumentException] {
      AdminCli.main(Array("make-cache", root, "objs", "olon", "olat",
        "6", "0.06", "--clustered"))
    }.getMessage.contains("--from-snapshot"))
    intercept[IllegalArgumentException] {
      AdminCli.main(Array("make-cache", root, "dets", "det_lon",
        "det_lat", "6", "0.06", "--from-snapshot", "latest"))
    }
    // build the point-in-time cache at the head (snap=2)
    AdminCli.main(Array("make-cache", root, "objs", "olon", "olat",
      "6", "0.06", "--clustered", "--from-snapshot", "latest"))
    val cp = graft.sources.MarginCache.cachePath(root, "objs")
    assert(graft.sources.SpatialWriter.marginMeta(spark, cp)
      .contains((0.06, 6)))
    assert(graft.sources.SpatialWriter.marginSourceSnap(spark, cp)
      .contains(2L))
    // the live table itself is untouched (commit log intact)
    assert(graft.sources.Snapshots.entries(spark, s"$root/objs.parquet")
      .map(_.id) == Seq(1L, 2L))
    val cached = run()
    assert(routed(cached), "fresh cache: the margin route must fire")
    assert(cached.collect().toSeq == beforeRows,
      "the cache is a physical layout choice — rows must be identical")
    assert(ql().explain(text).exists(_.contains("margin cache")))
    // a new nightly commit (far from every det, so ROWS stay equal
    // while the ROUTE must change): staleness detected, loud fallback
    graft.sources.Snapshots.append(
      Seq((9000L, 10.0, 80.0)).toDF("obj_id", "olon", "olat"),
      s"$root/objs.parquet")
    val stale = run()
    assert(!routed(stale),
      "a commit past the stamp must force the blocking path")
    assert(stale.collect().toSeq == beforeRows)
    assert(ql().explain(text).exists(l => l.contains("STALE") &&
      l.contains("snap=2") && l.contains("snap=3")),
      ql().explain(text).mkString("\n"))
    // a PINNED read at the stamped snapshot still takes the route
    val pinnedText =
      "SELECT det_id, obj_id, _DIST FROM dets, objs@2 ORDER BY det_id"
    val pinned = ql().query(pinnedText)
    assert(routed(pinned),
      "objs@2 matches the stamp — the cache is exact for that view")
    assert(pinned.collect().toSeq == beforeRows)
    // refresh re-stamps and re-routes
    AdminCli.main(Array("make-cache", root, "objs", "olon", "olat",
      "6", "0.06", "--clustered", "--from-snapshot", "latest"))
    assert(graft.sources.SpatialWriter.marginSourceSnap(spark, cp)
      .contains(3L))
    val refreshed = run()
    assert(routed(refreshed))
    assert(refreshed.collect().toSeq == beforeRows,
      "the far-away object matches nothing — rows unchanged")
  }

  test("QueryCli --explain prints the route report instead of executing") {
    import graft.ql.{JoinRegistry, SpatialJoinDef}
    val root = Files.createTempDirectory("graft_cli_explain").toString
    val rnd = new scala.util.Random(41)
    val objs = (0L until 100L).map(i => (i, rnd.nextDouble() * 360,
      rnd.nextDouble() * 50 - 25)).toDF("obj_id", "olon", "olat")
    val dets = objs.selectExpr("obj_id * 10 AS det_id",
      "olon + 0.002 AS det_lon", "olat + 0.002 AS det_lat")
    dets.write.parquet(s"$root/dets.parquet")
    graft.sources.SpatialWriter.writeClustered(objs, "olon", "olat", 6,
      s"$root/objs.parquet", margin = Some(0.06))
    JoinRegistry.declareSpatial(spark, root, SpatialJoinDef(
      "dets", "det_id", "det_lon", "det_lat",
      "objs", "obj_id", "olon", "olat",
      radiusDeg = 0.05, nmax = 1, snapD6 = true))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      QueryCli.main(Array(root,
        "SELECT det_id, obj_id, _DIST FROM dets, objs INTO xout",
        "--explain"))
    }
    val out = buf.toString("UTF-8")
    assert(out.contains("explain: xmatch objs: margin cache"), out)
    assert(out.contains("explain: INTO xout: not executed"), out)
    assert(!new java.io.File(s"$root/xout.parquet").exists,
      "--explain must not materialize INTO targets")
    // execution-mode rendering is unaffected (the table shows)
    QueryCli.main(Array(root,
      "SELECT det_id, obj_id, _DIST FROM dets, objs", "3"))
  }

  test("make-cache --from-snapshot after compact-merged: the " +
    "documented merge-on-read flow") {
    import graft.ql.{JoinRegistry, LsdQL, SpatialJoinDef}
    import graft.LsdDb
    import graft.sources.Snapshots
    val root = Files.createTempDirectory("graft_cli_mor").toString
    val rnd = new scala.util.Random(43)
    val objs = (0L until 120L).map(i => (i, rnd.nextDouble() * 360,
      rnd.nextDouble() * 50 - 25)).toDF("obj_id", "olon", "olat")
    val dets = objs.selectExpr("obj_id * 10 AS det_id",
      "olon + 0.002 AS det_lon", "olat + 0.002 AS det_lat")
    dets.write.parquet(s"$root/dets.parquet")
    val op = s"$root/objs.parquet"
    // merge-on-read history: base rows, a position-correcting upsert
    // for 20 keys, a tombstone delete for 10 others
    Snapshots.upsert(objs, op)
    Snapshots.upsert(objs.filter("obj_id < 20")
      .selectExpr("obj_id", "olon + 0.001 AS olon", "olat"), op)
    Snapshots.delete(objs.filter("obj_id >= 110").select("obj_id"), op)
    val merged = Snapshots.readMerged(spark, op, "obj_id")
    assert(merged.count() == 110)
    // the documented flow: compact-merged FIRST (the plain read then
    // IS the merged state), then the point-in-time cache
    Snapshots.compactMerged(spark, op, "obj_id")
    AdminCli.main(Array("make-cache", root, "objs", "olon", "olat",
      "6", "0.06", "--clustered", "--from-snapshot", "latest"))
    JoinRegistry.declareSpatial(spark, root, SpatialJoinDef(
      "dets", "det_id", "det_lon", "det_lat",
      "objs", "obj_id", "olon", "olat",
      radiusDeg = 0.05, nmax = 1, snapD6 = true))
    val df = LsdQL.forDb(LsdDb(spark, root)).query(
      "SELECT det_id, obj_id, _DIST FROM dets, objs ORDER BY det_id")
    assert(!df.queryExecution.executedPlan.toString.contains("Generate"),
      "the compacted merge-on-read catalog must take the margin route")
    val rows = df.collect()
    // deleted objects matched by nothing; every surviving det matches
    // its (possibly position-corrected) object
    assert(rows.forall(_.getLong(1) < 110))
    assert(rows.map(_.getLong(0)).distinct.length == 110)
  }

  test("QueryCli --bounds and --time flags") {
    val root = Files.createTempDirectory("graft_cli_bounds").toString
    val pts = (0L until 300L).map { i =>
      (i, (i * 13 % 3600) / 10.0, (i * 7 % 600) / 10.0 - 30.0)
    }.toDF("id", "lon", "lat")
    graft.sources.SpatialWriter.write(pts, "lon", "lat", 4,
      s"$root/sky.parquet")
    // parse coverage for the three bound kinds
    assert(QueryCli.parseBounds("cone:10,20,5") ==
      graft.spatial.Bounds.Cone(10, 20, 5))
    assert(QueryCli.parseBounds("rect:350,10,-20,5") ==
      graft.spatial.Bounds.Rect(350, 10, -20, 5))
    assert(QueryCli.parseBounds("poly:10,10,40,10,40,35") ==
      graft.spatial.Bounds.Polygon(Seq((10.0, 10.0), (40.0, 10.0),
        (40.0, 35.0))))
    intercept[IllegalArgumentException](QueryCli.parseBounds("beam:1,2,3"))
    // a misspelled flag must fail loudly, never run unbounded
    intercept[IllegalArgumentException] {
      QueryCli.main(Array(root, "SELECT id FROM sky", "3",
        "--bound", "cone:123.4,-12.3,9.0"))
    }
    // an inverted --time interval fails at construction
    intercept[IllegalArgumentException] {
      QueryCli.main(Array(root, "SELECT id FROM sky", "3",
        "--time", "2024-02-01 00:00:00,2024-01-01 00:00:00"))
    }
    // end to end: the flag reaches the bounded-query path (a layout
    // table, so the bound both prunes and refines)
    QueryCli.main(Array(root, "SELECT id, lon, lat FROM sky ORDER BY id",
      "5", "--bounds", "cone:123.4,-12.3,9.0"))
    QueryCli.main(Array(root, "SELECT id FROM sky", "3",
      "--bounds", "rect:100.5,200.5,-10.5,10.5"))
  }

  test("ImportCli + XmatchCli round trip") {
    val root = Files.createTempDirectory("graft_cli").toString
    val csv = s"$root/objs.csv"
    val rows = (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, rnd.nextDouble() * 360,
        math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)))
    }
    rows.toDF("obj_id", "lon", "lat").coalesce(1)
      .write.option("header", "true").csv(csv)

    ImportCli.main(Array(csv, s"$root/objects.parquet", "lon", "lat", "4"))
    val imported = spark.read.parquet(s"$root/objects.parquet")
    assert(imported.count() == 200)
    assert(imported.columns.contains("cell"))

    XmatchCli.main(Array(root, "objects", "obj_id,lon,lat",
      "objects", "obj_id,lon,lat", "0.5", "2", "obj_x_obj"))
    val pairs = spark.read.parquet(s"$root/obj_x_obj.parquet")
    // every object matches itself at rank 1, distance 0
    assert(pairs.filter("a_id = b_id AND match_rank = 1").count() == 200)

    // deep-field flag: same xmatch through CrossMatch's skew salting
    // (hotThreshold=1 forces every populated cell hot, salts=4) must
    // produce the identical pair set — the row-identity equality that
    // tools/ScaleSmoke (as of commit 1372bdc) checked at scale,
    // reachable from the CLI surface.
    XmatchCli.main(Array(root, "objects", "obj_id,lon,lat",
      "objects", "obj_id,lon,lat", "0.5", "2", "obj_x_obj_skew", "1", "4"))
    val skew = spark.read.parquet(s"$root/obj_x_obj_skew.parquet")
    val key = org.apache.spark.sql.functions.struct("a_id", "b_id",
      "match_rank")
    assert(skew.count() == pairs.count())
    assert(skew.select(key).exceptAll(pairs.select(key)).isEmpty)
  }
}
