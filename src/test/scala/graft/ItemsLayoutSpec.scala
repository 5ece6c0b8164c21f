package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.core.{ItemsLayout, Tables}

class ItemsLayoutSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("materialized layout: collection filter is a partition prune, datetime pushes down") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_items_layout").toString
    try {
      val items = Tables.items(s, sf)
      ItemsLayout.materialize(items, tmp)
      val back = ItemsLayout.read(s, tmp)
      assert(back.count() == items.count())

      val q = back.where(col("collection") === "click")
        .where(col("datetime") >= lit("2024-01-10 00:00:00").cast("timestamp"))
      val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // directory-level pruning on the partition column
      assert(p.contains("PartitionFilters") &&
        p.split('\n').exists(l => l.contains("PartitionFilters") && l.contains("collection")), p)
      // row-group-level pruning on the sorted datetime column
      assert(p.split('\n').exists(l => l.contains("PushedFilters") &&
        l.contains("GreaterThanOrEqual(datetime")), p)
      // result equality vs the unmaterialized view
      val expected = Tables.items(s, sf)
        .where(col("collection") === "click")
        .where(col("datetime") >= lit("2024-01-10 00:00:00").cast("timestamp"))
        .select("id").collect().map(_.getString(0)).toSet
      val got = q.select("id").collect().map(_.getString(0)).toSet
      assert(got == expected)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("zRangesSplit (bigmin-style recursion) ≡ enumerate+merge zRanges") {
    import graft.search.StacSearch
    val boxes = Seq(
      (-90.5, -45.25, 90.5, 45.25),
      (-180.0, -90.0, 180.0, 90.0),
      (-10.0, -10.0, 10.0, 10.0),
      (100.0, 20.0, 170.0, 80.0),
      (-170.0, -85.0, -100.0, -30.0))
    boxes.foreach { case (w, s0, e, n) =>
      assert(StacSearch.zRangesSplit(w, s0, e, n) == StacSearch.zRanges(w, s0, e, n),
        s"cover mismatch for bbox ($w,$s0,$e,$n)")
    }
  }

  test("z-sorted layout: OR-of-BETWEENs over merged z-ranges prunes row groups") {
    import graft.search.StacSearch
    val tmp = java.nio.file.Files.createTempDirectory("graft_zlayout").toString
    try {
      val items = Tables.items(s, sf)
      ItemsLayout.materializeZOrdered(items, StacSearch.zCellColumn, tmp)
      val back = ItemsLayout.read(s, tmp)

      val bbox = (-90.5, -45.25, 90.5, 45.25)
      val ranges = StacSearch.zRangesSplit(bbox._1, bbox._2, bbox._3, bbox._4)
      val nCells = ranges.map { case (a, b) => b - a + 1 }.sum
      assert(ranges.length > 1 && ranges.length < nCells,
        s"ranges: ${ranges.length} over $nCells cells")
      val rangePred = ranges.map { case (a, b) => col("zcell").between(a, b) }
        .reduce(_ || _)
      val q = back.where(rangePred)
        .where(col("lon") >= bbox._1 && col("lon") <= bbox._3 &&
          col("lat") >= bbox._2 && col("lat") <= bbox._4)
      val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // the range predicate reaches parquet as pushed filters on the STORED
      // sorted column → row-group min/max stats prune
      assert(p.split('\n').exists(l => l.contains("PushedFilters") && l.contains("zcell")), p)
      // correctness: z-range prune + exact bbox ≡ plain bbox on the view
      val expected = items
        .where(col("lon") >= bbox._1 && col("lon") <= bbox._3 &&
          col("lat") >= bbox._2 && col("lat") <= bbox._4)
        .select("id").collect().map(_.getString(0)).toSet
      val got = q.select("id").collect().map(_.getString(0)).toSet
      assert(got == expected)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("A63 covering-index manifest: one row per file, and the bbox prune SKIPS files") {
    import graft.search.StacSearch
    val s = TestSpark.spark
    // the a63 query path materializes layout+manifest (idempotent) itself;
    // audit the manifest against the layout it indexes
    val a63 = StacSearch.a63CoveringIndex(s, TestSpark.sf)
    val n = a63.count() // forces materialization of both state tables
    assert(n > 0, "a63 gate bbox matched nothing — widen it")
    // audit the EXACT dirs production resolved (a63Paths) — re-deriving
    // the key here would silently inspect the wrong dir if key inputs
    // or prefixes ever changed (r11 ADVICE)
    val lp = new java.io.File(StacSearch.a63Paths(s, TestSpark.sf)._1)
    val allFiles = lp.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val manifest = ItemsLayout.coveringManifest(s, lp.getAbsolutePath)
    assert(manifest.count() == allFiles.size, "manifest must carry exactly one row per data file")
    // the compact gate bbox must actually skip files — otherwise the
    // manifest proves nothing about pruning
    val candidates = StacSearch.a63CandidateFiles(s, TestSpark.sf,
      -175.0, -20.0, -120.0, 25.0)
    assert(candidates.nonEmpty && candidates.size < allFiles.size,
      s"no pruning: ${candidates.size} of ${allFiles.size} files selected")
  }

  test("A64 temporal manifest: the datetime window SKIPS files on the time-sorted layout") {
    import graft.search.StacSearch
    val s = TestSpark.spark
    val n = StacSearch.a64ManifestDatetime(s, TestSpark.sf).count()
    assert(n > 0, "a64 datetime window matched nothing")
    val lp = new java.io.File(StacSearch.a64Paths(s, TestSpark.sf)._1)
    val allFiles = lp.listFiles().filter(_.getName.endsWith(".parquet")).length
    val candidates = StacSearch.a64CandidateFiles(s, TestSpark.sf,
      "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    assert(candidates.nonEmpty && candidates.size < allFiles,
      s"no pruning: ${candidates.size} of $allFiles files selected")
  }

  test("D29 streaming manifest maintenance: per-batch appends keep manifest ≡ recompute, pruned search ≡ full scan") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val lTmp = java.nio.file.Files.createTempDirectory("graft_d29_layout").toString
    val mTmp = java.nio.file.Files.createTempDirectory("graft_d29_manifest").toString
    try {
      // live item feed: (id, collection, datetime, start, end, lon, lat)
      val rows = Tables.items(s, sf)
        .select("id", "collection", "datetime", "start_datetime",
          "end_datetime", "lon", "lat")
        .collect().map(r => (r.getString(0), r.getString(1),
          Option(r.getTimestamp(2)), Option(r.getTimestamp(3)),
          Option(r.getTimestamp(4)), r.getDouble(5), r.getDouble(6)))
      val mem = MemoryStream[(String, String, Option[java.sql.Timestamp],
        Option[java.sql.Timestamp], Option[java.sql.Timestamp], Double, Double)](s)
      val q = mem.toDF()
        .toDF("id", "collection", "datetime", "start_datetime",
          "end_datetime", "lon", "lat")
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          ItemsLayout.appendBatchWithManifest(b, lTmp, mTmp))
        .start()
      rows.grouped(400).foreach { g => mem.addData(g.toSeq); q.processAllAvailable() }
      q.stop()

      // invariant 1: the maintained manifest ≡ a from-scratch recompute
      val maintained = s.read.parquet(mTmp).collect()
        .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      val recomputed = ItemsLayout.coveringManifest(s, lTmp).collect()
        .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(maintained == recomputed)
      assert(maintained.size >= 3, s"expected ≥3 files, got ${maintained.size}")

      // invariant 2: manifest-pruned bbox search over the streamed layout
      // ≡ the full scan (soundness of pruning on a live-built table)
      val (w, so, e, n) = (-175.0, -20.0, -120.0, 25.0)
      val keep = s.read.parquet(mTmp)
        .where(col("xmin") <= e && col("xmax") >= w &&
          col("ymin") <= n && col("ymax") >= so)
        .select("file").collect().map(_.getString(0))
      val prunedIds = s.read.parquet(keep: _*)
        .where(col("lon") >= w && col("lon") <= e &&
          col("lat") >= so && col("lat") <= n)
        .select("id").collect().map(_.getString(0)).toSet
      val fullIds = s.read.parquet(lTmp)
        .where(col("lon") >= w && col("lon") <= e &&
          col("lat") >= so && col("lat") <= n)
        .select("id").collect().map(_.getString(0)).toSet
      assert(prunedIds == fullIds)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(lTmp)).deleteRecursively()
      new scala.reflect.io.Directory(new java.io.File(mTmp)).deleteRecursively()
    }
  }

  test("GeoParquet 1.1: geo footer metadata round-trips, covering column " +
      "matches the WKB-decoded envelope on every row") {
    import graft.core.{GeoParquet, Tables}
    val s = TestSpark.spark
    val file = GeoParquet.stage(s, TestSpark.sf)
    val meta = GeoParquet.readGeoMeta(file)
    // the spec'd fields land exactly where the writer put them
    assert(meta.version == "1.1.0")
    assert(meta.primaryColumn == "geometry")
    assert(meta.encoding == "WKB")
    assert(meta.geometryTypes == Seq("Point", "Polygon"))
    assert(meta.crsAuthority == "OGC" && meta.crsCode == "CRS84")
    assert(meta.covering == Map(
      "xmin" -> Seq("bbox", "xmin"), "ymin" -> Seq("bbox", "ymin"),
      "xmax" -> Seq("bbox", "xmax"), "ymax" -> Seq("bbox", "ymax")))
    // footer bbox = the union of all geometry envelopes (recomputed
    // independently from the covering column by Spark)
    import org.apache.spark.sql.functions._
    val env = s.read.parquet(file)
      .agg(min(col("bbox.xmin")), min(col("bbox.ymin")),
        max(col("bbox.xmax")), max(col("bbox.ymax"))).head()
    assert(meta.bbox == Seq(env.getDouble(0), env.getDouble(1),
      env.getDouble(2), env.getDouble(3)))
    // ingest: every row's WKB-decoded envelope equals its covering cell,
    // and the row count matches the source corpus
    val (df, _) = GeoParquet.ingestItems(s, TestSpark.sf)
    val bad = df.where(col("g_xmin") =!= col("c_xmin") ||
      col("g_ymin") =!= col("c_ymin") || col("g_xmax") =!= col("c_xmax") ||
      col("g_ymax") =!= col("c_ymax")).count()
    assert(bad == 0, s"$bad rows where WKB envelope != covering column")
    assert(df.count() == Tables.items(s, TestSpark.sf).count())
    // a non-GeoParquet file is refused with a clear message
    val e = intercept[IllegalArgumentException](
      GeoParquet.readGeoMeta(s"${TestSpark.sf}/events.parquet"))
    assert(e.getMessage.contains("geo"), e.getMessage)
  }

  test("A82 distributed GeoParquet export: sharded per-collection files, " +
      "each footer's bbox exactly its own rows' envelope union, " +
      "shard union = collection bbox, idempotent re-export") {
    import graft.core.{GeoParquet, Tables}
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    // shards=2 exercises the hot-collection valve: every (collection,
    // shard) bucket becomes its own independently-valid GeoParquet file
    val out = GeoParquet.export(s, TestSpark.sf, shards = 2)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    val collections = Tables.items(s, TestSpark.sf)
      .select("collection").distinct()
      .collect().map(_.getString(0)).sorted
    assert(files.toSeq ==
      collections.flatMap(c => Seq(s"$c-0.parquet", s"$c-1.parquet")).toSeq)
    // per-FILE footer bbox == min/max of that file's own covering rows,
    // and the file holds exactly its (collection, shard) slice
    files.foreach { name =>
      val path = s"$out/$name"
      val meta = GeoParquet.readGeoMeta(path)
      assert(meta.version == "1.1.0" && meta.encoding == "WKB")
      val rows = s.read.parquet(path)
      val Array(c, shard) = name.stripSuffix(".parquet").split("-")
      assert(rows.where(col("collection") =!= c ||
        pmod(col("id_num"), lit(2)) =!= shard.toInt).count() == 0)
      val env = rows.agg(min(col("bbox.xmin")), min(col("bbox.ymin")),
        max(col("bbox.xmax")), max(col("bbox.ymax"))).head()
      assert(meta.bbox == Seq(env.getDouble(0), env.getDouble(1),
        env.getDouble(2), env.getDouble(3)),
        s"$name footer bbox drifted from its rows")
    }
    // nothing lost in the shuffle: directory scan == source corpus, and
    // the shard-file footers union to the collection envelope
    val src = Tables.items(s, TestSpark.sf)
    assert(s.read.parquet(out).count() == src.count())
    val byColl = GeoParquet.footerBboxes(out).toSeq
      .groupBy { case (stem, _) => stem.split("-")(0) }
    collections.foreach { c =>
      val parts = byColl(c).map(_._2)
      val want = s.read.parquet(s"$out/$c-0.parquet", s"$out/$c-1.parquet")
        .agg(min(col("bbox.xmin")), min(col("bbox.ymin")),
          max(col("bbox.xmax")), max(col("bbox.ymax"))).head()
      assert(parts.map(_(0)).min == want.getDouble(0) &&
        parts.map(_(1)).min == want.getDouble(1) &&
        parts.map(_(2)).max == want.getDouble(2) &&
        parts.map(_(3)).max == want.getDouble(3))
    }
    // idempotent: a second call adopts the published dir without rewrite
    val before = new java.io.File(out).listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(GeoParquet.export(s, TestSpark.sf, shards = 2) == out)
    val after = new java.io.File(out).listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(before == after, "re-export must be a metadata no-op")
  }

  test("A85 footer prune: lossless vs the full catalog scan, actually " +
      "skips files, and a miss-everything box reads ZERO files") {
    import graft.core.GeoParquet
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    val zShards = 8
    val shardCol = (graft.search.StacSearch.zCellColumn.cast("long") *
      lit(zShards) / lit(4096)).cast("long")
    val out = GeoParquet.export(s, TestSpark.sf, zShards, Some(shardCol), tag = "z")
    val (w, so, e, n) = (-130.005, -60.005, -20.005, 10.005)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.where(col("bbox.xmin") <= e && col("bbox.xmax") >= w &&
          col("bbox.ymin") <= n && col("bbox.ymax") >= so)
        .select("id").collect().map(_.getString(0)).toSet
    val (pruned, total, read) = GeoParquet.searchBboxPruned(s, out, w, so, e, n)
    assert(read < total, s"no files pruned ($read/$total)")
    assert(read > 0)
    // lossless: pruned scan finds exactly the full scan's matches
    assert(hits(pruned) == hits(s.read.parquet(out)))
    // every SKIPPED file really has no matching row (prune ≡ row truth)
    val footers = GeoParquet.footerBboxes(out)
    val keptStems = footers.collect {
      case (k, b) if b(0) <= e && b(2) >= w && b(1) <= n && b(3) >= so => k
    }.toSet
    footers.keys.filterNot(keptStems).foreach { stem =>
      assert(hits(s.read.parquet(s"$out/$stem.parquet")).isEmpty,
        s"pruned file $stem contained a matching row")
    }
    // a box over open ocean far from every footprint reads zero files
    val (_, t2, r2) = GeoParquet.searchBboxPruned(s, out, 200.0, 91.0, 201.0, 92.0)
    assert(t2 == total && r2 == 0)
  }
}
