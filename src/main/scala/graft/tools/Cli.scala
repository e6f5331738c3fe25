package graft.tools

import graft.{GraftSession, LsdDb}
import graft.ql.LsdQL
import graft.sources.SpatialWriter
import graft.spatial.CrossMatch

// CLI entry points mirroring the reference's tool surface
// (`lsd-query`, `lsd-import`, `lsd-xmatch`; SURVEY.md §0 item 5, [H]).
// Thin mains over the library — all logic lives in graft.*.

/** lsd-query analog: run an LsdQL string against a database directory.
  *
  * Usage: QueryCli <dbRoot> <query> [maxRows]
  *                 [--bounds cone:lon,lat,r | rect:lonMin,lonMax,latMin,latMax
  *                  | poly:lon1,lat1,lon2,lat2,...]
  *                 [--time fromIncl,toExcl]
  *
  * `INTO t` inside the query materializes t under dbRoot. `--bounds`
  * and `--time` are the reference CLI's query-time footprint flags
  * (`lsd-query --bounds=beam(...)`, ref `lsd/bounds.py`, UNVERIFIED):
  * they reach [[graft.ql.LsdQL]] as bound ARGUMENTS, so a layout-
  * backed table is directory-pruned, not post-filtered. Join
  * relations resolve through the db's `_JOINS` registry
  * ([[graft.ql.JoinRegistry]]) via `LsdQL.forDb` — an xmatch relation
  * declared by [[XmatchCli]] makes `FROM a, b` just work here.
  */
object QueryCli {
  private[tools] def parseBounds(spec: String): graft.spatial.Bounds = {
    val (kind, rest) = spec.span(_ != ':')
    val nums = rest.drop(1).split(",").map(_.trim.toDouble)
    kind match {
      case "cone" =>
        require(nums.length == 3, "cone:lon,lat,radiusDeg")
        graft.spatial.Bounds.Cone(nums(0), nums(1), nums(2))
      case "rect" =>
        require(nums.length == 4, "rect:lonMin,lonMax,latMin,latMax")
        graft.spatial.Bounds.Rect(nums(0), nums(1), nums(2), nums(3))
      case "poly" =>
        require(nums.length >= 6 && nums.length % 2 == 0,
          "poly:lon1,lat1,lon2,lat2,... (>= 3 vertices)")
        graft.spatial.Bounds.Polygon(
          nums.grouped(2).map(p => (p(0), p(1))).toSeq)
      case other => throw new IllegalArgumentException(
        s"unknown bounds kind '$other' (cone | rect | poly)")
    }
  }

  def main(args: Array[String]): Unit = {
    val flags = scala.collection.mutable.Map.empty[String, String]
    val pos = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      if (args(i) == "--explain") { flags("explain") = "true"; i += 1 }
      else if (args(i).startsWith("--")) {
        require(i + 1 < args.length, s"${args(i)} needs a value")
        flags(args(i).drop(2)) = args(i + 1); i += 2
      } else { pos += args(i); i += 1 }
    }
    require(pos.length >= 2,
      "usage: QueryCli <dbRoot> <query> [maxRows] [--bounds <spec>] " +
        "[--time from,to] [--explain]")
    // a misspelled flag must not silently run the query UNBOUNDED —
    // the superset result is exactly what the flag was meant to cut
    val unknown = flags.keySet -- Set("bounds", "time", "explain")
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.map("--" + _).mkString(", ")} " +
        "(supported: --bounds, --time, --explain)")
    val spark = GraftSession.local()
    val ql = LsdQL.forDb(LsdDb(spark, pos(0)))
    val bounds = flags.get("bounds").map(parseBounds)
    val time = flags.get("time").map { t =>
      val parts = t.split(",", 2)
      require(parts.length == 2, "--time fromIncl,toExcl")
      // the CLI adds the STRICT check the core type deliberately does
      // not have: a typed from==to is a copy-paste slip here (it can
      // only return zero rows), while programmatic zero-width windows
      // ("since last run", nothing elapsed) are legitimate and must
      // construct (review r19, ADVICE)
      require(parts(0).trim != parts(1).trim,
        s"--time endpoints are equal ('${parts(0).trim}'): a " +
          "zero-width interval returns no rows — check the flag value")
      graft.spatial.TimeInterval(parts(0).trim, parts(1).trim)
    }
    if (flags.contains("explain")) {
      // route report INSTEAD of execution (SQL EXPLAIN semantics):
      // margin-vs-blocking per declared xmatch, bounds lowering per
      // driving table, suppressed INTOs — the operational visibility
      // the silent route fallback otherwise lacks
      val report = (bounds, time) match {
        case (Some(b), Some(ti)) => ql.explain(pos(1), b, ti)
        case (Some(b), None)     => ql.explain(pos(1), b)
        case (None, Some(ti))    => ql.explain(pos(1), ti)
        case (None, None)        => ql.explain(pos(1))
      }
      (if (report.isEmpty)
        Seq("no route decisions (single-table scan, no bounds)")
      else report).foreach(l => println(s"explain: $l"))
    } else {
      val df = (bounds, time) match {
        case (Some(b), Some(ti)) => ql.query(pos(1), b, ti)
        case (Some(b), None)     => ql.query(pos(1), b)
        case (None, Some(ti))    => ql.query(pos(1), ti)
        case (None, None)        => ql.query(pos(1))
      }
      df.show(if (pos.length > 2) pos(2).toInt else 20, truncate = false)
    }
  }
}

/** lsd-import analog: bulk-load a CSV file or a FITS binary-table
  * directory into a cell-partitioned Parquet table (with optional
  * neighbor-margin replication). The format is picked by extension:
  * `.fits` dirs/files go through graft.sources.Fits, anything else
  * through the CSV reader.
  *
  * Usage: ImportCli <csv|fitsDir> <out> <lonCol> <latCol> <level> [marginDeg]
  */
object ImportCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: ImportCli <csv|fitsDir> <out> <lonCol> <latCol> <level> [marginDeg]")
    val spark = GraftSession.local()
    val df =
      if (args(0).endsWith(".fits") ||
        new java.io.File(args(0)).isDirectory &&
          Option(new java.io.File(args(0)).list())
            .exists(_.exists(_.endsWith(".fits"))))
        graft.sources.Fits.read(spark, args(0))
      else spark.read.option("header", "true").option("inferSchema", "true")
        .csv(args(0))
    SpatialWriter.write(df, args(2), args(3), args(4).toInt, args(1),
      margin = args.lift(5).map(_.toDouble))
    println(s"imported ${args(0)} -> ${args(1)}")
  }
}

/** lsd-make-object-catalog analog: friends-of-friends group a
  * detection table into objects; writes `<outName>` (object summaries)
  * and `<outName>_assign` (det_id → obj_id) under dbRoot.
  *
  * Usage: MakeObjectCatalogCli <dbRoot> <detTable> <idCol,lonCol,latCol>
  *                             <radiusDeg> <outName>
  */
object MakeObjectCatalogCli {
  def main(args: Array[String]): Unit = {
    require(args.length == 5, "usage: MakeObjectCatalogCli <dbRoot> " +
      "<detTable> <idCol,lonCol,latCol> <radiusDeg> <outName>")
    val spark = GraftSession.local()
    val db = LsdDb(spark, args(0))
    val Array(id, lon, lat) = args(2).split(",").map(_.trim)
    val (assign, objects) = graft.spatial.ObjectCatalog.build(
      db.table(args(1)), id, lon, lat, args(3).toDouble)
    objects.write.mode("overwrite").parquet(s"${args(0)}/${args(4)}.parquet")
    assign.write.mode("overwrite")
      .parquet(s"${args(0)}/${args(4)}_assign.parquet")
    println(s"object catalog ${args(1)} -> ${args(4)} " +
      s"(${objects.count()} objects)")
  }
}

/** lsd-footprint analog: enumerate the cells a spatial bound touches
  * at a grid level, report areas, and (optionally) how many of those
  * cell directories a stored SpatialWriter layout actually holds —
  * i.e. how much of the table a bounded query would scan after
  * bounds∩quadtree pruning. Driver-only: cell enumeration is pure
  * arithmetic and the layout check is a directory listing; no Spark
  * job runs.
  *
  * Usage:
  *   FootprintCli cone <lon> <lat> <radiusDeg> <level> [layoutDir]
  *   FootprintCli rect <lonMin> <lonMax> <latMin> <latMax> <level> [layoutDir]
  *   FootprintCli polygon <lon1,lat1;lon2,lat2;...> <level> [layoutDir]
  */
object FootprintCli {
  import graft.spatial.Footprint

  /** (cells, exact area if analytic) for the parsed bound. */
  private[tools] def enumerate(args: Array[String])
      : (Seq[Long], Int, Option[Double], Option[String]) = args(0) match {
    case "cone" =>
      val Array(lon, lat, r) = args.slice(1, 4).map(_.toDouble)
      val level = args(4).toInt
      (Footprint.coneCells(lon, lat, r, level), level,
        Some(Footprint.coneAreaDeg2(r)), args.lift(5))
    case "rect" =>
      val Array(lo, hi, la, lb) = args.slice(1, 5).map(_.toDouble)
      val level = args(5).toInt
      (Footprint.rectCells(lo, hi, la, lb, level), level,
        Some(Footprint.rectAreaDeg2(lo, hi, la, lb)), args.lift(6))
    case "polygon" =>
      val verts = args(1).split(";").toSeq.map { p =>
        val Array(lo, la) = p.split(",").map(_.trim.toDouble); (lo, la)
      }
      val level = args(2).toInt
      (Footprint.polygonCells(verts, level), level, None, args.lift(3))
    case other => throw new IllegalArgumentException(
      s"usage: FootprintCli cone|rect|polygon ... (got '$other')")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: FootprintCli cone <lon> <lat> <r> <level> [layoutDir] | " +
        "rect <lonMin> <lonMax> <latMin> <latMax> <level> [layoutDir] | " +
        "polygon <lon1,lat1;...> <level> [layoutDir]")
    val (cells, level, exactArea, layoutDir) = enumerate(args)
    val total = 1L << (2 * level)
    val cellArea = Footprint.cellAreaDeg2(level)
    println(f"cells: ${cells.length} of $total at level $level " +
      f"(${100.0 * cells.length / total}%.2f%% of sky)")
    println(f"cover area: ${cells.length * cellArea}%.3f deg2 " +
      f"(${cellArea}%.3f deg2/cell)")
    exactArea.foreach(a => println(f"exact bound area: $a%.3f deg2 " +
      f"(cover overshoot ${cells.length * cellArea / a}%.2fx)"))
    layoutDir.foreach { dir =>
      // which candidate cell dirs exist in the stored layout
      val conf = new org.apache.hadoop.conf.Configuration()
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), conf)
      val present = cells.count(c => fs.exists(
        new org.apache.hadoop.fs.Path(dir, s"cell=$c")))
      val all = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "cell=*"))).map(_.length)
        .getOrElse(0)
      println(s"layout: $present of ${cells.length} candidate dirs " +
        s"present; scan $present of $all stored cells " +
        f"(${if (all > 0) 100.0 - 100.0 * present / all else 0.0}%.2f%% pruned)")
    }
  }
}

/** lsd-admin analog: inspect and maintain stored tables. Subcommands:
  *
  *   AdminCli list <dbRoot>           — datasets under the root with
  *     kind (plain / spatial layout / snapshot table), file count, bytes
  *   AdminCli snapshots <tablePath>   — commit log of a snapshot table
  *   AdminCli compact <tablePath>     — fold history into a base snapshot
  *   AdminCli vacuum <tablePath>      — drop pre-base history
  *   AdminCli compact-merged <tablePath> <keyCol> — fold upsert/delete
  *     deltas into a live-rows base (merge-on-read maintenance)
  *   AdminCli clean-staging <tablePath> — reclaim staging dirs leaked
  *     by crashed optimistic writers (only with no writer active)
  *
  * `snapshots` also prints the table's optimistic-commit counters
  * (lock retries / conflict aborts) when any optimistic writer ran.
  */
object AdminCli {
  import graft.sources.Snapshots
  import org.apache.hadoop.fs.{FileSystem, Path}

  private def fsFor(p: String) = FileSystem.get(
    new java.net.URI(p), new org.apache.hadoop.conf.Configuration())

  private[tools] def describe(root: String): Seq[(String, String, Long, Long)] = {
    val fs = fsFor(root)
    lazy val spark = GraftSession.local()
    val kids = Option(fs.listStatus(new Path(root))).getOrElse(Array.empty)
    kids.toSeq.filterNot(_.getPath.getName.startsWith("_")).map { st =>
      val name = st.getPath.getName
      val (kind, files, bytes) =
        if (!st.isDirectory) ("file", 1L, st.getLen)
        else {
          val sum = fs.getContentSummary(st.getPath)
          val k =
            if (Snapshots.isSnapshot(spark, st.getPath.toString)) "snapshot"
            else if (Option(fs.globStatus(new Path(st.getPath, "cell=*")))
              .exists(_.nonEmpty)) "spatial"
            else "plain"
          (k, sum.getFileCount, sum.getLength)
        }
      (name, kind, files, bytes)
    }.sortBy(_._1)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AdminCli list|snapshots|compact|" +
      "vacuum|compact-merged|clean-staging|declare-join|joins|" +
      "make-cache ...")
    args(0) match {
      case "list" =>
        describe(args(1)).foreach { case (name, kind, files, bytes) =>
          println(f"$name%-40s $kind%-9s $files%6d files $bytes%12d bytes")
        }
      case "snapshots" =>
        val spark = GraftSession.local()
        val es = Snapshots.entries(spark, args(1))
        if (es.isEmpty) println(s"${args(1)}: not a snapshot table")
        else es.foreach(e => println(
          s"snap=${e.id}${if (e.isBase) " BASE" else ""}" +
            e.tag.fold("")(t => s" tag=$t") +
            e.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
              s" $c=[$mn,$mx]"
            }.mkString +
            e.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
              s" $c=bloom(${b.m}b/${b.k}h)"
            }.mkString))
        val (retries, aborts) = Snapshots.ocStats(spark, args(1))
        if (retries > 0 || aborts > 0)
          println(s"optimistic commits: $retries lock retries, " +
            s"$aborts conflict aborts")
      case "clean-staging" =>
        val removed = Snapshots.cleanStaging(GraftSession.local(), args(1))
        println(if (removed.isEmpty) s"${args(1)}: no staging dirs"
          else s"removed ${removed.size} staging dir(s): " +
            removed.mkString(", "))
      case "compact" =>
        val id = Snapshots.compact(GraftSession.local(), args(1))
        println(s"compacted ${args(1)} -> base snap=$id")
      case "vacuum" =>
        val dropped = Snapshots.vacuum(GraftSession.local(), args(1))
        println(s"vacuumed ${args(1)}: removed " +
          s"${dropped.map(i => s"snap=$i").mkString(", ")}")
      case "compact-merged" =>
        val id = Snapshots.compactMerged(GraftSession.local(), args(1), args(2))
        println(s"compacted merge-on-read ${args(1)} -> base snap=$id")
      case "declare-join" =>
        // equi relation into the db's _JOINS registry (the spatial
        // form is declared by XmatchCli, the tool that computes it)
        require(args.length == 6, "usage: AdminCli declare-join " +
          "<dbRoot> <left> <leftKey> <right> <rightKey>")
        graft.ql.JoinRegistry.declare(GraftSession.local(), args(1),
          graft.ql.JoinDef(args(2), args(3), args(4), args(5)))
        println(s"declared ${args(2)}.${args(3)} = ${args(4)}.${args(5)} " +
          s"in ${args(1)}/_JOINS")
      case "make-cache" =>
        // lsd-style neighbor-cache materialization for an EXISTING
        // stored table (graft.sources.MarginCache is the engine):
        // plain tables are rewritten in place as a SpatialWriter
        // margin layout; SNAPSHOT (live) tables get a point-in-time
        // cache at _margincache/<table>.parquet stamped with the
        // source snapshot id, so a nightly-upserted catalog can take
        // the shuffle-free margin route between refreshes and readers
        // detect staleness after every new commit. Pay the
        // replication shuffle ONCE here; every later `FROM a, b` is
        // cell-local.
        require(args.length >= 7,
          "usage: AdminCli make-cache <dbRoot> <table> <lonCol> " +
            "<latCol> <level> <marginDeg> [--clustered] " +
            "[--from-snapshot <id|latest>]")
        var clustered = false
        var fromSnapshot: Option[Option[Long]] = None
        var i = 7
        while (i < args.length) {
          args(i) match {
            case "--clustered" => clustered = true; i += 1
            case "--from-snapshot" =>
              require(i + 1 < args.length,
                "--from-snapshot needs a value (<id> or latest)")
              fromSnapshot = Some(args(i + 1) match {
                case "latest" => None
                case id => Some(id.toLong)
              })
              i += 2
            case other => throw new IllegalArgumentException(
              s"unknown flag '$other' (supported: --clustered, " +
                "--from-snapshot)")
          }
        }
        val stamped = graft.sources.MarginCache.build(GraftSession.local(),
          args(1), args(2), args(3), args(4), args(5).toInt,
          args(6).toDouble, clustered, fromSnapshot)
        println(s"margin cache built: ${args(2)} (level=${args(5)} " +
          s"margin=${args(6)}${if (clustered) " clustered" else ""}" +
          stamped.fold("")(id => s" from snap=$id") + ") — declared " +
          "xmatches against it now route shuffle-free" +
          (if (stamped.isDefined)
            " until the table commits past the stamp" else ""))
      case "joins" =>
        val (js, sjs) = graft.ql.JoinRegistry.load(GraftSession.local(), args(1))
        if (js.isEmpty && sjs.isEmpty) println(s"${args(1)}: no _JOINS")
        js.foreach(j => println(
          s"equi    ${j.left}.${j.leftKey} = ${j.right}.${j.rightKey}"))
        sjs.foreach(j => println(
          s"spatial ${j.left}(${j.lonL},${j.latL}) -> " +
            s"${j.right}(${j.lonR},${j.latR}) r=${j.radiusDeg} " +
            s"nmax=${j.nmax}${if (j.snapD6) " snapD6" else ""}" +
            j.hotThreshold.fold("")(h => s" hot=$h salts=${j.salts}")))
      case other => throw new IllegalArgumentException(
        s"unknown subcommand '$other'")
    }
  }
}

/** lsd-xmatch analog: materialize a cross-match pair table between two
  * catalogs AND declare the relation in the db's `_JOINS` registry —
  * the reference's flow, where running `lsd-xmatch` created the
  * `.join` definition so every later `lsd-query` could just write
  * `FROM a, b` (ref `lsd/join_ops.py`, UNVERIFIED). Here the declared
  * relation is the QUERY-TIME radius join (snapD6 semantics, so QL
  * results are engine-deterministic at the boundary); the materialized
  * pair table is the bulk artifact for pipelines that want the pairs
  * themselves.
  *
  * Usage: XmatchCli <dbRoot> <tableA> <aId,aLon,aLat>
  *                  <tableB> <bId,bLon,bLat> <radiusDeg> <nmax> <outName>
  *                  [hotThreshold [salts]]
  *
  * The optional trailing args turn on deep-field skew mitigation
  * (CrossMatch.pairs' hotThreshold): cells with more than hotThreshold left-side
  * rows are salted into `salts` (default 16) even tasks; results are
  * row-identical to the plain plan. The mitigation is recorded on the
  * declared relation too.
  *
  * SEMANTICS NOTE (changed r18, ADVICE): the materialized pair table's
  * `dist_deg` is d6-SNAPPED and boundary membership + match_rank are
  * decided on the snapped value — matching the declared QL relation
  * exactly, so the two artifacts can never disagree at the boundary.
  * Consequences for pipelines re-running an xmatch over a pre-r18
  * output: (a) row-level diffs at the radius boundary and in rank
  * ties are EXPECTED (they reflect the old raw-distance semantics,
  * not data change); (b) radiusDeg must leave snap headroom under the
  * 1° blocking cap — values above ~0.999 that the old raw path
  * accepted up to 1.0 are now rejected at construction.
  */
object XmatchCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 8 && args.length <= 10,
      "usage: XmatchCli <dbRoot> <tableA> " +
      "<aId,aLon,aLat> <tableB> <bId,bLon,bLat> <radiusDeg> <nmax> " +
      "<outName> [hotThreshold [salts]]")
    val spark = GraftSession.local()
    val db = LsdDb(spark, args(0))
    val Array(aId, aLon, aLat) = args(2).split(",").map(_.trim)
    val Array(bId, bLon, bLat) = args(4).split(",").map(_.trim)
    // snapped semantics on BOTH artifacts: the materialized pair table
    // and the declared QL relation must agree on boundary membership
    // and rank order, or a pipeline cross-checking them sees phantom
    // diffs (review r18)
    val pairs = CrossMatch.nearest(db.table(args(1)),
      CrossMatch.Blocking(db.table(args(3))),
      aId, aLon, aLat, bId, bLon, bLat, args(5).toDouble, args(6).toInt,
      snapped = true,
      hotThreshold = if (args.length >= 9) Some(args(8).toLong) else None,
      salts = if (args.length == 10) args(9).toInt else 16)
    pairs.write.mode("overwrite").parquet(s"${args(0)}/${args(7)}.parquet")
    graft.ql.JoinRegistry.declareSpatial(spark, args(0),
      graft.ql.SpatialJoinDef(args(1), aId, aLon, aLat,
        args(3), bId, bLon, bLat, args(5).toDouble, args(6).toInt,
        hotThreshold = if (args.length >= 9) Some(args(8).toLong) else None,
        salts = if (args.length == 10) args(9).toInt else 16,
        snapD6 = true))
    println(s"xmatch ${args(1)}x${args(3)} -> ${args(7)} " +
      s"(${pairs.count()} pairs); relation ${args(1)} -> ${args(3)} " +
      "declared in _JOINS")
  }
}
