package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.spatial.{Shape, Wkb}

/** REAL GeoParquet 1.1 ingestion — the reference's literal data plane.
  *
  * The reference's every search is `read_parquet(<geoparquet url>)` over
  * files with a WKB `geometry` column and a `geo` footer metadata key
  * (database_logic.py:171, 401, 441; geoparquet/download_geoparquet.py
  * materializes them). Until r10 every graft gate DERIVED items from the
  * fixture parquet; this module closes the loop: a genuine GeoParquet
  * file is written at fixture-build time (WKB geometry, a `bbox`
  * covering struct column, and the spec'd `geo` footer JSON with
  * version / primary_column / encoding / geometry_types / PROJJSON crs /
  * bbox / covering), then ingested by FIRST reading the footer metadata
  * (metadata-plane, one file open) and routing the declared primary
  * column through the A42 codegen'd WKB decode expressions.
  *
  * Scale note: the WRITER is fixture tooling (driver-side, bounded by
  * the fixture size — the reference's downloader is the same shape); the
  * INGEST path is the production plane: footer read is O(1), the scan is
  * a normal distributed parquet scan, and decode is codegen'd per row.
  */
object GeoParquet {

  /** Parsed `geo` footer metadata (the fields the spec requires plus the
    * 1.1 covering extension).
    */
  final case class GeoMeta(
      version: String,
      primaryColumn: String,
      encoding: String,
      geometryTypes: Seq[String],
      crsAuthority: String,
      crsCode: String,
      bbox: Seq[Double],
      covering: Map[String, Seq[String]])

  /** Datetime extremes folded per file at write (micros, NTZ): the
    * file-level form of the reference's datetime-overlap semantics
    * (database_logic.py:279-312) — a range search [lo, hi] can match a
    * file iff (some datetime row: dtMin <= hi ∧ dtMax >= lo) OR (some
    * interval row: sdMin <= hi ∧ edMax >= lo). A64 proved this rule on a
    * manifest table; here it lives in the files' own footers.
    */
  final case class FooterDt(
      dtMin: Option[Long], dtMax: Option[Long],
      sdMin: Option[Long], edMax: Option[Long],
      hasNullDt: Boolean)

  /** One catalog file's footer-served metadata: the spec'd `geo` bbox +
    * row count, and the engine's `graft` sidecar key — the file's single
    * collection (every writer keys files on (collection, shard)) and its
    * datetime extremes. `collection`/`dt` are None for files written by
    * older layouts — absent metadata can only DISABLE a prune, never
    * lose a row.
    */
  final case class GeoFooter(bbox: Seq[Double], rows: Long,
      collection: Option[String], dt: Option[FooterDt],
      sortedById: Boolean,
      /** Per-file id_num extremes — what lets a consumed KEYSET predicate
        * (`id_num > token`) prune FILES at plan time, so a deep page
        * opens O(page-covering files), never O(files) (r12).
        */
      idRange: Option[(Long, Long)] = None)

  /** Deterministic footprint half-extents — the SAME formula as the
    * items-view envelope columns (StacSearch.envelopeSqlCols), so the
    * oracle can re-derive every envelope WKB-free from (lon, lat,
    * user_id, id_num).
    */
  private def halfW(userId: Long): Double = (userId % 10).toDouble / 10.0 + 0.1
  private def halfH(idNum: Long): Double = (idNum % 7).toDouble / 10.0 + 0.1

  /** Timestamp → NTZ micros for the parquet writers (null-passing) —
    * ONE definition shared by every row renderer so the physical
    * timestamp convention cannot silently diverge between writers.
    */
  private def micros(t: java.sql.Timestamp): java.lang.Long =
    if (t == null) null else t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** [[Staged]] names of the single-file fixtures (the A75/A96 oracles
    * read them back through [[Staged.latest]]).
    */
  val itemsName = "graft_geoparquet_items"
  val mercatorName = "graft_geoparquet_3857"

  private val mapper = new ObjectMapper()

  /** The `geo` footer JSON (GeoParquet 1.1): primary geometry column in
    * WKB, mixed Point/Polygon types, PROJJSON CRS (OGC:CRS84), the
    * file-level bbox, and the covering block pointing at the `bbox`
    * struct column.
    */
  private def geoJson(bbox: (Double, Double, Double, Double)): String = {
    val root = mapper.createObjectNode()
    root.put("version", "1.1.0")
    root.put("primary_column", "geometry")
    val cols = root.putObject("columns")
    val g = cols.putObject("geometry")
    g.put("encoding", "WKB")
    val types = g.putArray("geometry_types")
    types.add("Point"); types.add("Polygon")
    val crs = g.putObject("crs")
    crs.put("type", "GeographicCRS")
    crs.put("name", "WGS 84 (CRS84)")
    val crsId = crs.putObject("id")
    crsId.put("authority", "OGC"); crsId.put("code", "CRS84")
    val bb = g.putArray("bbox")
    bb.add(bbox._1); bb.add(bbox._2); bb.add(bbox._3); bb.add(bbox._4)
    val covering = g.putObject("covering")
    val cbb = covering.putObject("bbox")
    Seq("xmin", "ymin", "xmax", "ymax").foreach { f =>
      val arr = cbb.putArray(f); arr.add("bbox"); arr.add(f)
    }
    mapper.writeValueAsString(root)
  }

  private def schema: MessageType = {
    // NTZ micros, matching the fixture corpus's physical convention:
    // DuckDB reads plain TIMESTAMP (naive), Spark reads TIMESTAMP_NTZ
    // which the ingest re-labels under the UTC session zone — both
    // engines see identical naive instants (Tables.events doctrine)
    val ts = LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS)
    Types.buildMessage()
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("id")
      .required(INT64).named("id_num")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("collection")
      .optional(INT64).as(ts).named("datetime")
      .optional(INT64).as(ts).named("start_datetime")
      .optional(INT64).as(ts).named("end_datetime")
      .required(DOUBLE).named("value")
      .required(INT64).named("user_id")
      .required(DOUBLE).named("lon")
      .required(DOUBLE).named("lat")
      .requiredGroup()
        .required(DOUBLE).named("xmin")
        .required(DOUBLE).named("ymin")
        .required(DOUBLE).named("xmax")
        .required(DOUBLE).named("ymax")
        .named("bbox")
      .required(BINARY).named("geometry")
      .named("geoparquet_items")
  }

  /** The items projection every single-file writer stages. */
  private def itemRows(spark: SparkSession, dir: String,
                       where: org.apache.spark.sql.Column): Array[org.apache.spark.sql.Row] =
    Tables.items(spark, dir)
      .select(col("id"), col("id_num"), col("collection"), col("datetime"),
        col("start_datetime"), col("end_datetime"), col("value"),
        col("user_id"), col("lon"), col("lat"))
      .where(where)
      .orderBy(col("id_num"))
      .collect()

  /** Write `rows` as ONE GeoParquet file: `geom` renders each row's WKB
    * geometry and envelope; the footer's file-level bbox is folded over
    * every envelope first (the footer metadata must be final at writer
    * close — the DISTRIBUTED writer in [[export]] folds it single-pass via
    * finalizeWrite instead).
    */
  private def writeFile(file: String, rows: Array[org.apache.spark.sql.Row],
      geo: ((Double, Double, Double, Double)) => String)
      (geom: org.apache.spark.sql.Row => (Array[Byte], Array[Double])): Unit = {
    val shapes = rows.map(geom)
    val bbox = shapes.foldLeft(
        (Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)) {
      case ((w, s, e, n), (_, env)) =>
        (math.min(w, env(0)), math.min(s, env(1)), math.max(e, env(2)), math.max(n, env(3)))
    }
    val real = ExampleParquetWriter.builder(new Path(file))
      .withType(schema)
      .withExtraMetaData(java.util.Collections.singletonMap("geo", geo(bbox)))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try rows.zip(shapes).foreach { case (r, (wkb, env)) =>
      real.write(itemGroup(factory, r, wkb, env(0), env(1), env(2), env(3)))
    } finally real.close()
  }

  /** Stage the GeoParquet file for a fixture dir (once per fixture
    * content, via [[Staged]]). Geometry: even id_num → WKB Point(lon,
    * lat); odd → WKB Polygon of the deterministic footprint box
    * (exercising both decode branches). Returns the file path.
    */
  def stage(spark: SparkSession, dir: String): String =
    Staged.build(itemsName, dir, "events") { file =>
      writeFile(file, itemRows(spark, dir, lit(true)), geoJson) { r =>
        val (shape, (x0, y0, x1, y1)) =
          rowGeom(r.getLong(1), r.getLong(7), r.getDouble(8), r.getDouble(9))
        (Wkb.encode(shape), Array(x0, y0, x1, y1))
      }
    }

  // ------------------------------------------------------------- export
  // The WRITE side of the reference's data plane: its corpus IS one
  // GeoParquet file per collection (database_logic.py:831-853 plans a
  // per-collection scan; download_geoparquet.py materializes the files).
  // `export` produces exactly that layout DISTRIBUTED: rows shuffle once
  // on (collection, shard), each task streams its run of rows into
  // parquet-mr writers, and the spec'd `geo` footer (incl. the per-FILE
  // bbox) is computed IN THE SAME PASS via WriteSupport.finalizeWrite —
  // parquet writes footer metadata at close, so a running envelope needs
  // no second scan. `shards` splits a hot collection across files (the
  // 100 TB valve: one collection never pins one task); every shard file
  // is independently valid GeoParquet with its own exact footer bbox.

  /** Streams groups to a [[GroupWriteSupport]] while folding the running
    * envelope of the `bbox` struct; emits the final `geo` footer (with
    * the exact file-level bbox) when parquet-mr closes the file.
    */
  private class GeoWriteSupport(schema: MessageType)
      extends org.apache.parquet.hadoop.api.WriteSupport[org.apache.parquet.example.data.Group] {
    import org.apache.parquet.hadoop.api.WriteSupport
    private val inner = new org.apache.parquet.hadoop.example.GroupWriteSupport()
    private var w = Double.MaxValue; private var s = Double.MaxValue
    private var e = -Double.MaxValue; private var n = -Double.MaxValue
    // `graft` sidecar folds (same single pass as the bbox): the file's
    // one collection and its datetime extremes — the metadata the
    // collection/datetime FILE prune (GeoCatalogSource) reads
    private var coll: String = null; private var mixed = false
    private var dtMin = Long.MaxValue; private var dtMax = Long.MinValue
    private var sdMin = Long.MaxValue; private var edMax = Long.MinValue
    private var hasNullDt = false
    // detected, not assumed: STRICTLY id_num-ascending files advertise
    // the order so a pushed TopN can early-stop their readers (unsorted
    // DSv2-write input simply doesn't advertise). Strict, not weak:
    // strictness proves id_num unique per file, which is what makes a
    // COMPOUND order with leading id_num early-stoppable (tiebreakers
    // can never fire) — r12, the A92 DESC/multi-key extension
    private var prevId = Long.MinValue; private var sortedById = true
    private var idMin = Long.MaxValue; private var idMax = Long.MinValue
    override def init(conf: org.apache.hadoop.conf.Configuration): WriteSupport.WriteContext = {
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
      inner.init(conf)
    }
    override def prepareForWrite(rc: org.apache.parquet.io.api.RecordConsumer): Unit =
      inner.prepareForWrite(rc)
    override def write(g: org.apache.parquet.example.data.Group): Unit = {
      val bb = g.getGroup("bbox", 0)
      w = math.min(w, bb.getDouble("xmin", 0)); s = math.min(s, bb.getDouble("ymin", 0))
      e = math.max(e, bb.getDouble("xmax", 0)); n = math.max(n, bb.getDouble("ymax", 0))
      val c = g.getString("collection", 0)
      if (coll == null) coll = c else if (coll != c) mixed = true
      val idn = g.getLong("id_num", 0)
      if (idn <= prevId && prevId != Long.MinValue) sortedById = false
      prevId = idn
      if (idn < idMin) idMin = idn
      if (idn > idMax) idMax = idn
      if (g.getFieldRepetitionCount("datetime") > 0) {
        val v = g.getLong("datetime", 0)
        if (v < dtMin) dtMin = v; if (v > dtMax) dtMax = v
      } else hasNullDt = true
      if (g.getFieldRepetitionCount("start_datetime") > 0) {
        val v = g.getLong("start_datetime", 0)
        if (v < sdMin) sdMin = v
      }
      if (g.getFieldRepetitionCount("end_datetime") > 0) {
        val v = g.getLong("end_datetime", 0)
        if (v > edMax) edMax = v
      }
      inner.write(g)
    }
    override def finalizeWrite(): WriteSupport.FinalizedWriteContext = {
      val graft = mapper.createObjectNode()
      if (coll != null && !mixed) graft.put("collection", coll)
      if (dtMin != Long.MaxValue) { graft.put("dt_min", dtMin); graft.put("dt_max", dtMax) }
      if (sdMin != Long.MaxValue) graft.put("sd_min", sdMin)
      if (edMax != Long.MinValue) graft.put("ed_max", edMax)
      graft.put("has_null_dt", hasNullDt)
      graft.put("sorted_by_id_num", sortedById)
      if (idMin != Long.MaxValue) {
        graft.put("id_min", idMin); graft.put("id_max", idMax)
      }
      val kv = new java.util.HashMap[String, String]()
      kv.put("geo", geoJson((w, s, e, n)))
      kv.put("graft", mapper.writeValueAsString(graft))
      new WriteSupport.FinalizedWriteContext(kv)
    }
  }

  private class GeoWriterBuilder(path: Path, schema: MessageType)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        org.apache.parquet.example.data.Group, GeoWriterBuilder](path) {
    override def self(): GeoWriterBuilder = this
    override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration) =
      new GeoWriteSupport(schema)
  }

  /** [[Staged]] name of an exported catalog — `tag` distinguishes shard
    * strategies ("s" = id-hash, "z" = spatial, "c" = compacted).
    */
  // layout v4: footers carry the `graft` sidecar (collection + datetime
  // extremes + detected id_num sortedness) — versioned name so older
  // exports regenerate
  // layout v5 (r12): the sidecar also carries per-file id_num extremes
  def exportName(shards: Int = 1, tag: String = "s"): String =
    s"graft_geoparquet_export_v5$tag$shards"

  /** Per-row geometry: even id_num → Point, odd → footprint Polygon (the
    * stage() convention, so export and fixture file agree) + its envelope.
    */
  private[graft] def rowGeom(idNum: Long, userId: Long, lon: Double, lat: Double)
      : (Shape, (Double, Double, Double, Double)) =
    if (idNum % 2 == 0) (Shape.PointS(lon, lat), (lon, lat, lon, lat))
    else {
      val hw = halfW(userId); val hh = halfH(idNum)
      (Shape.PolyS(Array(Array(Array(
        lon - hw, lat - hh, lon + hw, lat - hh,
        lon + hw, lat + hh, lon - hw, lat + hh)))),
        (lon - hw, lat - hh, lon + hw, lat + hh))
    }

  /** One items-view row (its first 10 fields) plus a rendered geometry →
    * one parquet-mr Group of [[schema]]. The ONE row renderer behind every
    * writer (single-file, export, compaction).
    */
  private def itemGroup(factory: SimpleGroupFactory, r: org.apache.spark.sql.Row,
      wkb: Array[Byte], x0: Double, y0: Double, x1: Double, y1: Double)
      : org.apache.parquet.example.data.Group = {
    val g = factory.newGroup()
    g.append("id", r.getString(0))
    g.append("id_num", r.getLong(1))
    g.append("collection", r.getString(2))
    val dt = micros(r.getAs[java.sql.Timestamp](3))
    if (dt != null) g.append("datetime", dt.longValue())
    val sd = micros(r.getAs[java.sql.Timestamp](4))
    if (sd != null) g.append("start_datetime", sd.longValue())
    val ed = micros(r.getAs[java.sql.Timestamp](5))
    if (ed != null) g.append("end_datetime", ed.longValue())
    g.append("value", r.getDouble(6))
    g.append("user_id", r.getLong(7))
    g.append("lon", r.getDouble(8))
    g.append("lat", r.getDouble(9))
    val bb = g.addGroup("bbox")
    bb.append("xmin", x0); bb.append("ymin", y0)
    bb.append("xmax", x1); bb.append("ymax", y1)
    g.append("geometry", org.apache.parquet.io.api.Binary.fromConstantByteArray(wkb))
    g
  }

  /** One items-view row → one Group, geometry derived by [[rowGeom]].
    * Runs on EXECUTORS (the task-side body of [[export]]).
    */
  private def rowGroup(factory: SimpleGroupFactory, r: org.apache.spark.sql.Row)
      : org.apache.parquet.example.data.Group = {
    val (shape, (x0, y0, x1, y1)) =
      rowGeom(r.getLong(1), r.getLong(7), r.getDouble(8), r.getDouble(9))
    itemGroup(factory, r, Wkb.encode(shape), x0, y0, x1, y1)
  }

  /** Write the per-collection GeoParquet catalog (the reference's layout)
    * for a fixture dir, distributed: shuffle on (collection, shard), one
    * file per (collection, shard) written by whichever task owns the run
    * — single pass, footer bbox folded during the write. Idempotent per
    * (fixture content, shards, tag) via [[Staged]].
    */
  def export(spark: SparkSession, dir: String, shards: Int = 1,
             shardCol: Option[org.apache.spark.sql.Column] = None,
             tag: String = "s"): String = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    Staged.build(exportName(shards, tag), dir, "events") { out =>
      new java.io.File(out).mkdirs()
      // default shard = id-hash (uniform); a spatial caller passes a
      // z-bucket column instead so each file's footprint (⇒ footer bbox)
      // stays TIGHT and the catalog prunes (see searchBboxPruned)
      val sc = shardCol.getOrElse(pmod(col("id_num"), lit(shards.toLong)))
      Tables.items(spark, dir)
        .select(col("id"), col("id_num"), col("collection"), col("datetime"),
          col("start_datetime"), col("end_datetime"), col("value"),
          col("user_id"), col("lon"), col("lat"),
          sc.cast("long").as("shard"))
        .repartition(col("collection"), col("shard"))
        .sortWithinPartitions(col("collection"), col("shard"), col("id_num"))
        .foreachPartition(writeShardRun(out, 10, rowGroup) _)
    }
  }

  /** Task body shared by [[export]] and [[compact]]: stream a sorted run
    * of rows into one parquet-mr writer per (collection, shard) key,
    * rolling the writer on key change. `shardIdx` is the shard column's
    * position; `build` renders one row into a Group of [[schema]].
    */
  private def writeShardRun(outPath: String, shardIdx: Int,
      build: (SimpleGroupFactory, org.apache.spark.sql.Row) => org.apache.parquet.example.data.Group,
      nameOf: (String, Long) => String = (c, sh) => s"$c-$sh.parquet")
      (it: Iterator[org.apache.spark.sql.Row]): Unit = {
    val factory = new SimpleGroupFactory(schema)
    var cur: (String, Long) = null
    var writer: org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group] = null
    var tmpName: String = null
    var finalName: String = null
    // Files land at `<name>.parquet.tmp` and ATOMICALLY rename on close:
    // a concurrent reader (the D41 subscription lists the directory and
    // opens footers between micro-batches) can never observe a
    // half-written footer — `.tmp` names don't match the `.parquet`
    // listing filters, and the rename is all-or-nothing. REPLACE_EXISTING
    // keeps the retry idempotence (a replayed batch re-renames over its
    // own completed file).
    def closeAndPublish(): Unit = if (writer != null) {
      writer.close()
      writer = null
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmpName), java.nio.file.Paths.get(finalName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    try {
      it.foreach { r =>
        val key = (r.getString(2), r.getLong(shardIdx))
        if (key != cur) {
          closeAndPublish()
          finalName = s"$outPath/${nameOf(key._1, key._2)}"
          tmpName = finalName + ".tmp"
          writer = new GeoWriterBuilder(new Path(tmpName), schema)
            .withCompressionCodec(CompressionCodecName.SNAPPY)
            // OVERWRITE the tmp file: a retried streaming micro-batch
            // (appendBatch names files by batchId) rewrites its own tmp
            // after a mid-write crash instead of failing
            .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
            .build()
          cur = key
        }
        writer.write(build(factory, r))
      }
      closeAndPublish()
    } finally if (writer != null) writer.close() // error path: leave .tmp
  }

  /** One parquet-mr writer for a catalog file (the DSv2 SupportsWrite
    * path) — the SAME schema and footer-folding WriteSupport as every
    * other catalog writer, so `df.write.format("geocatalog")` files are
    * indistinguishable from exported ones (exact `geo` bbox + `graft`
    * sidecar at close).
    */
  def newCatalogWriter(tmpPath: String)
      : org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group] =
    new GeoWriterBuilder(new Path(tmpPath), schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()

  /** Group factory over the catalog schema (for [[newCatalogWriter]]). */
  def catalogGroupFactory: SimpleGroupFactory = new SimpleGroupFactory(schema)

  /** Projection of the catalog schema to the named top-level fields, in
    * schema order (`parquet.read.schema` form) — the DSv2 reader hands
    * this to parquet-mr so unrequested columns are never DECODED (the
    * geometry WKB and id strings dominate decode cost; a COUNT or a
    * narrow projection should not pay them).
    */
  def projectedSchema(names: Seq[String]): org.apache.parquet.schema.MessageType = {
    import scala.jdk.CollectionConverters._
    val keep = names.toSet
    new org.apache.parquet.schema.MessageType(schema.getName,
      schema.getFields.asScala.filter(f => keep(f.getName)).toList.asJava)
  }

  /** STREAMING catalog ingest (D40): land ONE micro-batch of items-shaped
    * rows as per-collection GeoParquet files
    * `<collection>-<batchId>.parquet` through the SAME footer-folding
    * writers as [[export]] — every batch file is independently valid
    * GeoParquet 1.1 with an exact footer bbox the moment it closes, so
    * the catalog is queryable (and footer-prunable) mid-stream; [[compact]]
    * later merges the accumulated small batch files into canonical shards
    * (A86's op — the batch/stream pair every file-backed store runs).
    * Batch-id file naming + OVERWRITE writers make foreachBatch retries
    * idempotent (a replayed batch rewrites its own files).
    */
  def appendBatch(batch: DataFrame, outDir: String, batchId: Long): Unit = {
    new java.io.File(outDir).mkdirs()
    val outPath = outDir
    batch
      .select(col("id"), col("id_num"), col("collection"), col("datetime"),
        col("start_datetime"), col("end_datetime"), col("value"),
        col("user_id"), col("lon"), col("lat"),
        lit(batchId).cast("long").as("shard"))
      .repartition(col("collection"))
      .sortWithinPartitions(col("collection"), col("id_num"))
      .foreachPartition(writeShardRun(outPath, 10, rowGroup) _)
  }

  /** STREAMING self-maintenance (D42): the foreachBatch companion of
    * [[appendBatch]] — after batch `gen` lands, any collection whose
    * small-file count (batch files + older generation files) exceeds
    * `maxSmallFiles` collapses them into ONE generation file
    * `<collection>-g<gen>.parquet` through the same footer-folding
    * writer, id_num-sorted so the merged file advertises its order for
    * the keyset TopN path. The ingest stream self-maintains: file count
    * per collection stays ≤ maxSmallFiles + 1 at every batch boundary
    * instead of growing with the stream's lifetime.
    *
    * Crash safety (single writer — the owning foreachBatch):
    *  - the merged file lands tmp+atomic-rename, THEN the inputs
    *    delete: the directory never has a state with rows MISSING. A
    *    reader that lists AND opens inside the rename→delete window can
    *    see a merged row twice; a reader that plans against a listing
    *    and opens later can hit a vanished input (the standard
    *    in-place-compaction caveat of every non-MVCC file store —
    *    snapshot isolation needs a manifest layer, which is exactly
    *    what the A63/A64 manifests provide for deployments that need
    *    it). [[footerInfo]] tolerates the vanish (skips and re-lists);
    *    schedule maintenance in the ingest loop's quiet point when
    *    batch queries run against the live directory;
    *  - a crash between rename and deletes leaves inputs behind — the
    *    RECOVERY SWEEP at the next call removes any file whose id is
    *    ≤ the collection's newest generation id (those rows are in the
    *    generation file by construction: the merge set is everything
    *    present at merge time, and batch ids are unique per checkpoint
    *    with a replayed batch rewriting identical content), so the
    *    sweep is idempotent and duplicates cannot persist.
    * A D41 subscriber treats a generation file as new (file-list
    * offsets): re-delivery after compaction is the documented
    * at-least-once caveat of combining the two — subscribe upstream of
    * maintenance when exactly-once matters.
    */
  def maintainBatch(spark: SparkSession, outDir: String, gen: Long,
                    maxSmallFiles: Int = 4): Seq[String] = {
    // <collection>-<batchId>.parquet | <collection>-g<genId>.parquet
    def parse(n: String): Option[(String, Boolean, Long)] = {
      val stem = n.stripSuffix(".parquet")
      val i = stem.lastIndexOf('-')
      if (!n.endsWith(".parquet") || i <= 0) None
      else {
        val tail = stem.substring(i + 1)
        val isGen = tail.startsWith("g")
        val digits = if (isGen) tail.drop(1) else tail
        if (digits.nonEmpty && digits.forall(_.isDigit))
          Some((stem.substring(0, i), isGen, digits.toLong))
        else None
      }
    }
    def smallFiles(): Map[String, Seq[(java.io.File, Boolean, Long)]] = {
      val fs = new java.io.File(outDir).listFiles()
      if (fs == null) Map.empty
      else fs.toSeq.flatMap(f => parse(f.getName).map {
        case (c, g, id) => (c, (f, g, id)) })
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    }
    // LINEAGE guard (r11 review finding): the sweep's soundness rests on
    // batch ids increasing monotonically within ONE checkpoint lineage —
    // a stream restarted with a FRESH checkpoint restarts ids at 0, and
    // a sweep that then read "0 ≤ newest generation 7" would delete
    // just-appended rows that are in no generation file. A gen below
    // anything already in the directory is that misuse: refuse TYPED,
    // before any delete.
    val maxExisting = smallFiles().values.flatten.map(_._3).foldLeft(-1L)(math.max)
    require(gen >= maxExisting,
      s"maintainBatch(gen=$gen) is behind the catalog's lineage (newest " +
        s"file id $maxExisting in $outDir): this directory belongs to a " +
        "different checkpoint lineage — resume the original checkpoint or " +
        "ingest into a fresh directory")
    // recovery sweep: anything at or before the newest generation is
    // already inside it
    smallFiles().foreach { case (_, files) =>
      val gens = files.filter(_._2)
      if (gens.nonEmpty) {
        val newest = gens.map(_._3).max
        files.foreach { case (f, isGen, id) =>
          if ((isGen && id < newest) || (!isGen && id <= newest)) f.delete()
        }
      }
    }
    val toMerge = smallFiles().filter(_._2.size > maxSmallFiles)
    if (toMerge.isEmpty) return Seq.empty
    val paths = toMerge.values.flatten.map(_._1.getAbsolutePath).toSeq
    val outPath = outDir
    spark.read.parquet(paths: _*)
      .select(col("id"), col("id_num"), col("collection"),
        col("datetime").cast("timestamp").as("datetime"),
        col("start_datetime").cast("timestamp").as("start_datetime"),
        col("end_datetime").cast("timestamp").as("end_datetime"),
        col("value"), col("user_id"), col("lon"), col("lat"),
        col("bbox"), col("geometry"),
        lit(gen).cast("long").as("shard"))
      .repartition(col("collection"))
      .sortWithinPartitions(col("collection"), col("id_num"))
      .foreachPartition(
        writeShardRun(outPath, 12, passGroup, (c, g) => s"$c-g$g.parquet") _)
    // renames are done; now the inputs go
    toMerge.values.flatten.foreach(_._1.delete())
    toMerge.keys.map(c => s"$outDir/$c-g$gen.parquet").toSeq
  }

  /** One CATALOG row (as read back from exported files — geometry and
    * bbox pass through untouched) → one Group. The compaction builder:
    * no formula re-derivation, data plane only.
    */
  private def passGroup(factory: SimpleGroupFactory, r: org.apache.spark.sql.Row)
      : org.apache.parquet.example.data.Group = {
    val b = r.getStruct(10)
    itemGroup(factory, r, r.getAs[Array[Byte]](11),
      b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
  }

  /** Catalog COMPACTION (the 100 TB maintenance op — many small shard
    * files merged into few): reads the CATALOG FILES (the source view is
    * never consulted — pure data plane), re-shards on the caller's
    * column, re-sorts, and rewrites through the same footer-folding
    * writers, so every output file's `geo` bbox is exact by
    * construction. Gated with the SOURCE catalog as the oracle side: a
    * compaction that drops, duplicates, or mutates a row is a hash
    * break.
    */
  def compact(spark: SparkSession, inDir: String, dir: String, toShards: Int,
              shardCol: org.apache.spark.sql.Column,
              tag: String = "c"): String =
    Staged.build(exportName(toShards, tag), dir, "events") { out =>
      new java.io.File(out).mkdirs()
      spark.read.parquet(inDir)
        .select(col("id"), col("id_num"), col("collection"),
          col("datetime").cast("timestamp").as("datetime"),
          col("start_datetime").cast("timestamp").as("start_datetime"),
          col("end_datetime").cast("timestamp").as("end_datetime"),
          col("value"), col("user_id"), col("lon"), col("lat"),
          col("bbox"), col("geometry"),
          shardCol.cast("long").as("shard"))
        .repartition(col("collection"), col("shard"))
        .sortWithinPartitions(col("collection"), col("shard"), col("id_num"))
        .foreachPartition(writeShardRun(out, 12, passGroup) _)
    }

  /** Footer `geo` bboxes of every file in an exported directory, keyed by
    * file stem (`<collection>-<shard>`) — metadata-plane only (one footer
    * open per file; file count = collections × shards, never rows).
    * Validates each footer is well-formed GeoParquet 1.1 on the way.
    */
  def footerBboxes(out: String): Map[String, Seq[Double]] =
    footerInfo(out).map { case (k, f) => k -> f.bbox }

  /** Footer-driven FILE PRUNE + scan: the catalog-level analogue of
    * parquet row-group skipping — the per-file `geo` bbox (exact, folded
    * at write) decides membership BEFORE any data plane I/O, so a bbox
    * search over a spatially-sharded catalog opens only the files whose
    * footprint can match. Metadata plane is O(files) (= collections ×
    * shards — never rows); at 100 TB this is the difference between
    * scanning a planet and scanning a country. Returns (frame over the
    * surviving files, files total, files read). Correctness is gated:
    * the A85 oracle scans EVERY file, so a lossy prune is a hash break.
    */
  def searchBboxPruned(spark: SparkSession, out: String,
                       w: Double, s: Double, e: Double, n: Double)
      : (DataFrame, Int, Int) = {
    val footers = footerBboxes(out)
    val keep = footers.filter { case (_, b) =>
      b(0) <= e && b(2) >= w && b(1) <= n && b(3) >= s
    }
    val files = keep.keys.toSeq.sorted.map(k => s"$out/$k.parquet")
    val df =
      if (files.isEmpty)
        spark.read.parquet(out).limit(0) // schema-correct empty frame
      else spark.read.parquet(files: _*)
    (df, footers.size, keep.size)
  }

  /** Read and parse the `geo` footer metadata — the metadata-plane step
    * a GeoParquet reader performs before planning the scan.
    */
  // constructing a Hadoop Configuration loads and parses the default
  // resources (~10-20 ms); the footer reads only consult it read-only,
  // so one shared instance serves every metadata-plane open
  private lazy val sharedConf = new org.apache.hadoop.conf.Configuration()

  // path → (listing signature, footer info): a catalog query consults the
  // footers several times (file prune, statistics, the explain pass), and
  // the metadata is immutable per file version — the signature (name,
  // length, mtime per file) invalidates on ANY rewrite, so a regenerated
  // or compacted catalog can never serve stale footers. Keyed on the
  // DIRECTORY alone with the signature stored in the value: a streaming
  // append changes the signature every micro-batch, and replacing the
  // entry (instead of keying on the signature) keeps driver memory at
  // O(directories), not O(batches × files).
  private val footerMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Map[String, GeoFooter])]()

  /** Parse the optional `graft` sidecar footer key. */
  private def parseGraftMeta(kv: java.util.Map[String, String])
      : (Option[String], Option[FooterDt], Boolean, Option[(Long, Long)]) = {
    val raw = kv.get("graft")
    if (raw == null) return (None, None, false, None)
    val n = mapper.readTree(raw)
    def l(f: String): Option[Long] = Option(n.get(f)).map(_.asLong())
    val dt = FooterDt(l("dt_min"), l("dt_max"), l("sd_min"), l("ed_max"),
      Option(n.get("has_null_dt")).exists(_.asBoolean()))
    val ids = for (lo <- l("id_min"); hi <- l("id_max")) yield (lo, hi)
    (Option(n.get("collection")).map(_.asText()), Some(dt),
      Option(n.get("sorted_by_id_num")).exists(_.asBoolean()), ids)
  }

  /** Per-file (geo bbox, row count) in ONE footer open per file — the
    * metadata-plane read every catalog decision (file prune, count,
    * bound extremes) is served from; the row-group counts live in the
    * same footer as the `geo` key, so splitting them into two passes
    * would double the open cost for nothing. Footers are read in
    * PARALLEL (each open is independent ~ms-scale I/O: sequential cost
    * measured 7.5 ms/file — minutes at a 100k-file catalog) and memoized
    * against the directory listing signature.
    */
  def footerInfo(out: String): Map[String, GeoFooter] = {
    val files = new java.io.File(out).listFiles()
    require(files != null, s"geocatalog path does not exist or is not a directory: $out")
    val parquet = files.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val sig = parquet.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    footerMemo.compute(out, (_, prev) => {
      if (prev != null && prev._1 == sig) prev
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        val info = Await.result(Future.traverse(parquet.toSeq) { f => Future {
          // a file can vanish between the listing and this open (the
          // maintainBatch rename→delete window): skip it — its rows are
          // in the generation file the NEXT listing serves, and the
          // signature of this listing can never match again anyway
          if (!f.exists()) None
          else {
            val in = HadoopInputFile.fromPath(new Path(f.getAbsolutePath), sharedConf)
            val reader = ParquetFileReader.open(in)
            try {
              val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
              val m = parseGeoMeta(f.getAbsolutePath, kv)
              require(m.version == "1.1.0" && m.primaryColumn == "geometry" &&
                m.encoding == "WKB" && m.bbox.length == 4,
                s"exported footer drifted: ${f.getName} → $m")
              val (coll, dt, sorted, ids) = parseGraftMeta(kv)
              Some(f.getName.stripSuffix(".parquet") ->
                GeoFooter(m.bbox, reader.getRecordCount, coll, dt, sorted, ids))
            } finally reader.close()
          }
        }}, Duration.Inf).flatten.toMap
        (sig, info)
      }
    })._2
  }

  /** Per-file row counts — see [[footerInfo]]. */
  def footerRowCounts(out: String): Map[String, Long] =
    footerInfo(out).map { case (k, f) => k -> f.rows }

  def readGeoMeta(file: String): GeoMeta = {
    val in = HadoopInputFile.fromPath(new Path(file), sharedConf)
    val reader = ParquetFileReader.open(in)
    try parseGeoMeta(file, reader.getFooter.getFileMetaData.getKeyValueMetaData)
    finally reader.close()
  }

  private def parseGeoMeta(
      file: String, kv: java.util.Map[String, String]): GeoMeta = {
    val geo = kv.get("geo")
    require(geo != null, s"$file has no 'geo' footer metadata — not GeoParquet")
    val root = mapper.readTree(geo)
    val primary = root.get("primary_column").asText()
    val gcol = root.get("columns").get(primary)
    val crs = gcol.get("crs")
    import scala.jdk.CollectionConverters._
    val covering = Option(gcol.get("covering")).map { cov =>
      cov.get("bbox").fields().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap
    }.getOrElse(Map.empty)
    GeoMeta(
      version = root.get("version").asText(),
      primaryColumn = primary,
      encoding = gcol.get("encoding").asText(),
      geometryTypes = gcol.get("geometry_types").elements().asScala.map(_.asText()).toSeq,
      crsAuthority = crs.get("id").get("authority").asText(),
      crsCode = crs.get("id").get("code").asText(),
      bbox = gcol.get("bbox").elements().asScala.map(_.asDouble()).toSeq,
      covering = covering)
  }

  /** Ingest the staged GeoParquet file: footer-driven — the geometry
    * column name comes from `primary_column`, the covering columns from
    * the covering block — through the codegen'd WKB decode expressions
    * into the envelope-column form every spatial predicate keys on.
    */
  def ingestItems(spark: SparkSession, dir: String): (DataFrame, GeoMeta) =
    ingestFile(spark, stage(spark, dir))

  /** Ingest ANY staged GeoParquet file, CRS-AWARE (A94 — the r10
    * verdict's last capability edge): OGC:CRS84 passes through;
    * EPSG:326xx/327xx (UTM WGS84) re-projects every geometry vertex to
    * CRS84 inside a codegen'd expression ([[graft.spatial.UtmWkbToCrs84]]
    * — scan parallelism, no driver work) before the A42 decode runs;
    * any OTHER CRS is a TYPED refusal naming the supported set, never a
    * silent planar misread. The covering columns stay in the FILE's CRS
    * (they are the file's own skip-index; the decoded `g_*` envelope is
    * the CRS84 form queries key on).
    */
  def ingestFile(spark: SparkSession, file: String): (DataFrame, GeoMeta) = {
    val meta = readGeoMeta(file)
    require(meta.encoding == "WKB",
      s"unsupported GeoParquet encoding '${meta.encoding}' (only WKB)")
    val raw = col(meta.primaryColumn)
    val geom = ingestCrs(meta) match {
      case IngestCrs.Crs84             => raw
      case IngestCrs.Utm(zone, south)  => graft.spatial.UtmWkbToCrs84(raw, zone, south)
      case IngestCrs.PseudoMercator    => graft.spatial.MercatorWkbToCrs84(raw)
    }
    def coveringCol(field: String) =
      col(meta.covering(field).mkString("."))
    val df = spark.read.parquet(file)
      .withColumn("gtype", graft.spatial.WkbType(geom))
      .withColumn("env", graft.spatial.WkbEnvelope(geom))
      .select(col("id"), col("collection"),
        col("datetime").cast("timestamp").as("datetime"),
        col("gtype"),
        col("env").getItem(0).as("g_xmin"), col("env").getItem(1).as("g_ymin"),
        col("env").getItem(2).as("g_xmax"), col("env").getItem(3).as("g_ymax"),
        coveringCol("xmin").as("c_xmin"), coveringCol("ymin").as("c_ymin"),
        coveringCol("xmax").as("c_xmax"), coveringCol("ymax").as("c_ymax"))
    (df, meta)
  }

  /** The ingestable CRS set (A94 + r12 #3857): everything else refuses
    * typed, never a silent planar misread.
    */
  private[graft] sealed trait IngestCrs
  private[graft] object IngestCrs {
    case object Crs84 extends IngestCrs
    final case class Utm(zone: Int, south: Boolean) extends IngestCrs
    case object PseudoMercator extends IngestCrs
  }

  /** CRS dispatch for [[ingestFile]]: CRS84 passes through, UTM WGS84
    * and EPSG:3857 re-project at ingest, anything else a typed refusal
    * naming the supported set.
    */
  private[graft] def ingestCrs(meta: GeoMeta): IngestCrs =
    (meta.crsAuthority, meta.crsCode) match {
      case ("OGC", "CRS84") => IngestCrs.Crs84
      case ("EPSG", "3857") => IngestCrs.PseudoMercator
      case ("EPSG", code) if code.forall(_.isDigit) && code.nonEmpty &&
          code.length <= 9 && graft.spatial.Utm.parseEpsg(code.toInt).isDefined =>
        val (zone, south) = graft.spatial.Utm.parseEpsg(code.toInt).get
        IngestCrs.Utm(zone, south)
      case (auth, code) => throw new IllegalArgumentException(
        s"unsupported GeoParquet CRS $auth:$code — supported: OGC:CRS84 " +
          "(native), EPSG:326xx/327xx (UTM WGS84) and EPSG:3857 " +
          "(Pseudo-Mercator), both re-projected at ingest")
    }

  // ---------------------- A94: PROJECTED (UTM) GeoParquet fixture
  /** PROJJSON for a projected UTM WGS84 CRS (EPSG:326zz north / 327zz
    * south); bbox in the file's own metres.
    */
  private def geoJsonUtm(bbox: (Double, Double, Double, Double),
                         zone: Int, south: Boolean): String =
    geoJsonProjected(bbox, s"WGS 84 / UTM zone $zone${if (south) "S" else "N"}",
      graft.spatial.Utm.epsgOf(zone, south))

  /** PROJJSON footer for any projected EPSG CRS; bbox in the file's own
    * metres.
    */
  private def geoJsonProjected(bbox: (Double, Double, Double, Double),
                               name: String, epsg: Int): String = {
    val root = mapper.createObjectNode()
    root.put("version", "1.1.0")
    root.put("primary_column", "geometry")
    val cols = root.putObject("columns")
    val g = cols.putObject("geometry")
    g.put("encoding", "WKB")
    val types = g.putArray("geometry_types")
    types.add("Point"); types.add("Polygon")
    val crs = g.putObject("crs")
    crs.put("type", "ProjectedCRS")
    crs.put("name", name)
    val crsId = crs.putObject("id")
    crsId.put("authority", "EPSG")
    crsId.put("code", epsg.toString)
    val bb = g.putArray("bbox")
    bb.add(bbox._1); bb.add(bbox._2); bb.add(bbox._3); bb.add(bbox._4)
    val covering = g.putObject("covering")
    val cbb = covering.putObject("bbox")
    Seq("xmin", "ymin", "xmax", "ymax").foreach { f =>
      val arr = cbb.putArray(f); arr.add("bbox"); arr.add(f)
    }
    mapper.writeValueAsString(root)
  }

  /** Stage a PROJECTED GeoParquet file: the fixture items inside `zone`'s
    * 6° band, every geometry vertex FORWARD-projected to UTM metres
    * ([[graft.spatial.Utm.forward]]), covering bbox in metres, PROJJSON
    * EPSG:326zz — the file a real satellite archive hands the engine.
    * Fixture-build time, staged once per fixture content like [[stage]].
    */
  def stageUtm(spark: SparkSession, dir: String, zone: Int = 33,
               south: Boolean = false): String =
    Staged.build(s"graft_geoparquet_utm$zone${if (south) "s" else ""}", dir, "events") { file =>
      val cm = graft.spatial.Utm.centralMeridian(zone)
      // a SOUTH (327zz) file additionally windows to southern latitudes —
      // the false-northing branch a real S-hemisphere archive exercises
      val rows = itemRows(spark, dir, col("lon") >= cm - 3.0 && col("lon") < cm + 3.0 &&
        (if (south) col("lat") < -1.5 else lit(true)))
      require(rows.nonEmpty, s"no fixture items inside UTM zone $zone")
      writeFile(file, rows, geoJsonUtm(_, zone, south)) { r =>
        val (shape, _) = rowGeom(r.getLong(1), r.getLong(7), r.getDouble(8), r.getDouble(9))
        val wkb = graft.spatial.Utm.wkbFromCrs84(Wkb.encode(shape), zone, south)
        (wkb, Wkb.envelope(wkb))
      }
    }

  /** Stage an EPSG:3857 GeoParquet file: every fixture item whose
    * geometry fits the projection's ±85.05° validity band (a web-map
    * pipeline clips its sources the same way; polygon half-height is
    * ≤ 1.1°, so |lat| ≤ 83.9 keeps every vertex in band), geometry
    * vertices forward-projected to Pseudo-Mercator metres
    * ([[graft.spatial.Mercator3857.forward]]), covering bbox in metres,
    * PROJJSON EPSG:3857 — the file every web-map tile pipeline hands
    * the engine. Fixture-build time, staged once per fixture content
    * like [[stage]].
    */
  def stageMercator(spark: SparkSession, dir: String): String =
    Staged.build(mercatorName, dir, "events") { file =>
      val rows = itemRows(spark, dir, abs(col("lat")) <= 83.9)
      require(rows.nonEmpty, "no fixture items inside the 3857 validity band")
      writeFile(file, rows, geoJsonProjected(_, "WGS 84 / Pseudo-Mercator", 3857)) { r =>
        val (shape, _) = rowGeom(r.getLong(1), r.getLong(7), r.getDouble(8), r.getDouble(9))
        val wkb = graft.spatial.Mercator3857.wkbFromCrs84(Wkb.encode(shape))
        (wkb, Wkb.envelope(wkb))
      }
    }
}
