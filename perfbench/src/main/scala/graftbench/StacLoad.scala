package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.core.Tables
import graft.cql.{Cql, Cql2Text}
import graft.search.{SearchParams, SortBy, StacApi, StacHttp, TxnStore}

/** One generated request: a route, its HTTP form, and (for the traced
  * run) the same request as typed parameters.
  */
final case class Op(i: Int, due: Double, route: String, method: String,
                    path: String, body: String, pages: Int, dep: Int,
                    params: JsonNode) {
  def search: Boolean = route.startsWith("search")
}

object Op {
  def parse(n: JsonNode): Op = Op(n.get("i").asInt, n.path("due").asDouble(0.0),
    n.get("route").asText, n.get("method").asText, n.get("path").asText,
    Option(n.get("body")).filterNot(_.isNull).map(_.asText).orNull,
    n.path("pages").asInt(1), n.path("dep").asInt(-1), n.get("params"))
}

/** The STAC serving workloads: an in-process `StacHttp` server driven over
  * real HTTP by at most `cpus` client threads.
  *
  * - open loop: requests are issued at their due times whatever the
  *   server's state, and latency runs from the due time, so queueing
  *   shows up as latency instead of silently lowering the offered load;
  * - closed loop: `cpus` clients send back to back; correct responses
  *   per second is the capacity;
  * - traced: one request at a time, each followed by direct calls into
  *   the layers it crossed (cql, StacApi, StacSearch, TxnStore), with
  *   Spark and Catalyst listeners on the session.
  */
object StacLoad {
  private val mapper = Main.mapper

  final class Client(base: String) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()

    def send(method: String, path: String, body: String): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(base + path))
        .timeout(Duration.ofSeconds(120))
      if (body == null) b.method(method, HttpRequest.BodyPublishers.noBody())
      else b.header("Content-Type", "application/json")
        .method(method, HttpRequest.BodyPublishers.ofString(body))
      val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body)
    }
  }

  /** What the checker needs from one response. */
  private def summarize(rec: ObjectNode, route: String, status: Int, text: String): Option[String] = {
    rec.put("status", status)
    if (status >= 300 || text == null || text.isEmpty) return None
    val doc = mapper.readTree(text)
    route match {
      case r if r.startsWith("search") || r == "raw_search" =>
        val ids = rec.putArray("ids")
        val values = rec.putArray("values")
        doc.path("features").elements().asScala.foreach { f =>
          ids.add(f.path("id").asText)
          values.add(f.path("properties").path("value"))
        }
        if (doc.has("numberMatched")) rec.put("matched", doc.get("numberMatched").asLong)
        doc.path("links").elements().asScala.find(_.path("rel").asText == "next")
          .map(_.path("token").asText)
      case "item" | "raw_item" =>
        rec.put("id", doc.path("id").asText)
        rec.put("collection", doc.path("collection").asText)
        rec.set[JsonNode]("value", doc.path("properties").path("value"))
        None
      case "collections" =>
        val ids = rec.putArray("ids")
        doc.path("collections").elements().asScala.foreach(c => ids.add(c.path("id").asText))
        None
      case "aggregate" =>
        rec.set[JsonNode]("aggregations", doc.path("aggregations"))
        None
      case _ =>
        rec.put("id", doc.path("id").asText)
        None
    }
  }

  /** The next page of a walk: GET carries the token in the query string,
    * POST merges it into the original body.
    */
  private def nextRequest(op: Op, path: String, body: String, token: String): (String, String) =
    if (op.method == "POST") {
      val b = mapper.readTree(body).asInstanceOf[ObjectNode]
      b.put("token", token)
      (path, mapper.writeValueAsString(b))
    } else {
      val enc = java.net.URLEncoder.encode(token, "UTF-8")
      val base = path.split("[?&]token=")(0)
      (s"$base${if (base.contains("?")) "&" else "?"}token=$enc", body)
    }

  /** Send `op` (following `next` tokens for a walk); one record per HTTP
    * exchange. Returns the completion time of the last exchange.
    */
  private def execute(client: Client, op: Op, due0: Long, clock: () => Long,
                      out: ConcurrentLinkedQueue[ObjectNode],
                      onPage: (Int, ObjectNode, String) => Unit = (_, _, _) => ()): Long = {
    var (path, body, due, page, end) = (op.path, op.body, due0, 0, due0)
    var more = true
    while (more) {
      val rec = mapper.createObjectNode()
      rec.put("i", op.i); rec.put("page", page); rec.put("route", op.route)
      val send = clock()
      var token: Option[String] = None
      try {
        val (st, txt) = client.send(op.method, path, body)
        end = clock()
        token = summarize(rec, op.route, st, txt)
      } catch {
        case e: Exception =>
          end = clock()
          rec.put("status", -1); rec.put("err", String.valueOf(e))
      }
      rec.put("due", due); rec.put("send", send); rec.put("end", end)
      out.add(rec)
      onPage(page, rec, body)
      token match {
        case Some(t) if page + 1 < op.pages =>
          val (p2, b2) = nextRequest(op, path, body, t)
          path = p2; body = b2; due = end; page += 1
          rec.put("token", t)
        case _ => more = false
      }
    }
    end
  }

  def run(cfg: JsonNode): ObjectNode = {
    val reqs = mapper.readTree(new java.io.File(cfg.get("requests").asText))
    def ops(k: String) = reqs.path(k).elements().asScala.map(Op.parse).toIndexedSeq
    val (warm, open, closed, openRw) = (ops("warm"), ops("open"), ops("closed"), ops("open_rw"))
    val dir = cfg.get("data").asText
    val cpus = cfg.get("cpus").asInt
    val traced = cfg.get("trace").asBoolean
    val benchColl = reqs.get("write_collection").asText
    val result = mapper.createObjectNode()

    // ---------------------------------------------------------- set-up
    // Several set-ups per run; the first one starts at JVM start.
    var spark: SparkSession = null
    var server: StacHttp.Server = null
    val setups = result.putArray("setup_s")
    (0 until cfg.get("setups").asInt).foreach { k =>
      if (server != null) { server.stop(); spark.stop() }
      val t0 = if (k == 0) Main.jvmStartMicros else System.currentTimeMillis() * 1000L
      spark = Main.session(cfg)
      server = StacHttp.start(spark, dir)
      val client = new Client(server.base)
      client.send("POST", "/collections", s"""{"id":"$benchColl","description":"writes"}""")
      val sink = new ConcurrentLinkedQueue[ObjectNode]()
      warm.foreach(op => execute(client, op, 0L, () => 0L, sink))
      val bad = sink.asScala.filter(r => r.path("status").asInt != 200)
      if (bad.nonEmpty) throw new IllegalStateException(s"warm-up failed: ${bad.head}")
      setups.add((System.currentTimeMillis() * 1000L - t0) / 1e6)
    }
    val client = new Client(server.base)

    if (traced) traceRun(cfg, spark, server, client, open ++ openRw, dir, benchColl, result)
    else {
      // reads before any write, so they plan over the bare items table;
      // after the first write every read plans over the overlay view
      val lateness = result.putArray("lateness_ms")
      openLoop(client, open, cpus, result.putArray("open"), lateness)
      closedLoop(cfg, client, closed, cpus, result)
      openLoop(client, openRw, cpus, result.putArray("open_rw"), lateness)
    }
    server.stop()
    result
  }

  private def wallMicros(): Long = System.nanoTime() / 1000L

  private def openLoop(client: Client, open: IndexedSeq[Op], cpus: Int,
                       arr: ArrayNode, lateness: ArrayNode): Unit = {
    val pool = Executors.newFixedThreadPool(cpus)
    val out = new ConcurrentLinkedQueue[ObjectNode]()
    val done = new java.util.concurrent.ConcurrentHashMap[Int, CompletableFuture[java.lang.Long]]()
    val t0 = wallMicros() + 20000L
    val clock = () => wallMicros() - t0
    open.foreach { op =>
      val target = (op.due * 1e6).toLong
      val wait = target - clock()
      if (wait > 0) TimeUnit.MICROSECONDS.sleep(wait)
      lateness.add(math.max(0L, clock() - target) / 1000.0)
      val f = new CompletableFuture[java.lang.Long]()
      done.put(op.i, f)
      def go(due: Long): Unit = pool.execute { () =>
        try f.complete(execute(client, op, due, clock, out))
        catch { case e: Throwable => f.complete(clock()) }
      }
      Option(done.get(op.dep)) match {
        case Some(d) => d.thenAccept(end => go(math.max(target, end.longValue)))
        case None    => go(target)
      }
    }
    CompletableFuture.allOf(done.values.asScala.toSeq: _*).get(120, TimeUnit.SECONDS)
    pool.shutdown()
    out.asScala.foreach(arr.add)
  }

  private def closedLoop(cfg: JsonNode, client: Client, closed: IndexedSeq[Op],
                         cpus: Int, result: ObjectNode): Unit = {
    val done = closed.map(op => op.i -> new CompletableFuture[java.lang.Long]()).toMap
    val next = new AtomicInteger(0)
    val t0 = wallMicros()
    val clock = () => wallMicros() - t0
    val deadline = (cfg.get("closed_s").asDouble * 1e6).toLong
    val outs = (0 until cpus).map(_ => new ConcurrentLinkedQueue[ObjectNode]())
    val threads = outs.map { out =>
      new Thread(() => {
        var k = next.getAndIncrement()
        while (k < closed.size && clock() < deadline) {
          val op = closed(k)
          done.get(op.dep).foreach(_.get(120, TimeUnit.SECONDS))
          try done(op.i).complete(execute(client, op, clock(), clock, out))
          catch { case e: Throwable => done(op.i).complete(clock()) }
          k = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    result.put("closed_s", clock() / 1e6)
    val arr = result.putArray("closed")
    outs.zipWithIndex.foreach { case (out, c) =>
      out.asScala.foreach { r => r.put("client", c); arr.add(r) }
    }
  }

  // ------------------------------------------------------------ traced
  private def strs(n: JsonNode, k: String): Seq[String] =
    n.path(k).elements().asScala.map(_.asText).toSeq

  /** Typed parameters of a generated search, parsed the way the route
    * parses them (POST body codec, or cql2-text for GET filters).
    */
  private def paramsOf(op: Op, body: String, token: Option[String]): SearchParams =
    if (op.method == "POST") {
      val p = SearchParams.fromSearchBody(body)
      p.filter.foreach(Cql.parseJson)
      p
    } else {
      val n = op.params
      SearchParams(
        collections = strs(n, "collections"),
        bbox = Option(n.get("bbox")).map { b =>
          (b.get(0).asDouble, b.get(1).asDouble, b.get(2).asDouble, b.get(3).asDouble)
        },
        datetime = Option(n.get("datetime")).map(_.asText),
        filterAst = Option(n.get("filter_text")).map(t => Cql2Text.parse(t.asText)),
        sortBy = n.path("sortby").elements().asScala.map(s =>
          SortBy(s.get("field").asText, s.path("desc").asBoolean(false))).toSeq,
        limit = n.path("limit").asInt(10),
        token = token,
        include = strs(n, "include"))
    }

  private def traceRun(cfg: JsonNode, spark: SparkSession, server: StacHttp.Server,
                       client: Client, open: IndexedSeq[Op], dir: String,
                       benchColl: String, result: ObjectNode): Unit = {
    val tr = new Tracer
    val cpus = cfg.get("cpus").asInt
    val shadow = new TxnStore(spark, dir)
    shadow.createCollection(s"""{"id":"$benchColl","description":"writes"}""", _ => false)
    val out = new ConcurrentLinkedQueue[ObjectNode]()
    val routeOf = scala.collection.mutable.Map.empty[String, String]
    val returned = scala.collection.mutable.Map.empty[String, Int]
    // the listeners' cost on the served path: each read is also sent once
    // with them detached, before or after the traced send by turns
    val paired = scala.collection.mutable.ArrayBuffer.empty[Double]
    val discard = new ConcurrentLinkedQueue[ObjectNode]()
    def twin(op: Op): Double = {
      tr.detach(spark)
      val t0 = System.nanoTime()
      execute(client, op, 0L, () => 0L, discard)
      tr.attach(spark)
      (System.nanoTime() - t0) / 1e6
    }
    tr.attach(spark)
    open.zipWithIndex.foreach { case (op, n) =>
      val id = s"${op.i}"
      routeOf(id) = op.route
      val pair = !op.route.startsWith("write")
      val before = if (pair && n % 2 == 0) twin(op) else 0.0
      var traced = 0.0
      tr.span(id, "request") {
        var pages = Seq.empty[(Int, ObjectNode, String)]
        execute(client, op, tr.now(), () => tr.now(), out,
          (pg, rec, body) => pages :+= ((pg, rec, body)))
        // each page of a walk is one HTTP exchange; recorded as its own
        // span so listener events attach to the exchange they belong to
        pages.foreach { case (pg, rec, _) =>
          val (a, b) = (rec.get("send").asLong, rec.get("end").asLong)
          tr.record(id, "StacHttp.http", a, b)
          traced += (b - a) / 1000.0
          returned(s"$id.$pg") = rec.path("ids").size
        }
        shadowCalls(tr, spark, server, shadow, op, id, pages, dir)
      }
      val after = if (pair && n % 2 == 1) twin(op) else 0.0
      if (pair) paired += traced - before - after
    }
    tr.detach(spark)

    val L = new Layers(tr, cpus, "StacHttp.http")
    val layers = result.putObject("layers")
    val searchHttp = L.all.filter(s => s.name == "StacHttp.http" && routeOf(s.op).startsWith("search"))
    // overhead and serialization from the SAME op's direct calls
    val byOp = L.all.groupBy(_.op)
    def opMs(op: String, name: String): Option[Double] =
      byOp.getOrElse(op, Nil).find(_.name == name).map(_.dur / 1000.0)
    val overhead = byOp.keys.toSeq.flatMap { op =>
      for {
        h <- byOp(op).find(_.name == "StacHttp.http")
        f <- opMs(op, "StacSearch.features")
        if routeOf(op).startsWith("search")
      } yield h.dur / 1000.0 - f
    }
    val serialize = byOp.keys.toSeq.flatMap { op =>
      for (f <- opMs(op, "StacSearch.features"); c <- opMs(op, "StacApi.count");
           p <- opMs(op, "StacApi.page")) yield f - c - p
    }
    val viewMs = byOp.keys.toSeq.flatMap { op =>
      for (v <- opMs(op, "TxnStore.view_plan"); b <- opMs(op, "Tables.items_plan")) yield v - b
    }
    layers.put("StacHttp.overhead_ms", L.median(overhead))
    layers.put("cql.parse_us", L.median(L.durs("cql.parse")) * 1000.0)
    layers.put("StacApi.plan_ms", L.medianMs("StacApi.plan"))
    layers.put("StacApi.count_ms", L.medianMs("StacApi.count"))
    layers.put("StacApi.page_ms", L.medianMs("StacApi.page"))
    val searchJobs = tr.jobs.count(j => searchHttp.exists(s => s.start - 1000 <= j.start && j.start <= s.end + 1000))
    layers.put("StacApi.jobs_per_request",
      if (searchHttp.isEmpty) 0.0 else searchJobs.toDouble / searchHttp.size)
    val rows = L.scanRowsIn(searchHttp)
    val ret = returned.filter { case (k, _) => routeOf(k.split('.')(0)).startsWith("search") }.values.sum
    layers.put("StacApi.rows_read_per_returned", if (ret == 0) 0.0 else rows.toDouble / ret)
    layers.put("StacApi.aggregate_ms", L.medianMs("StacApi.aggregate"))
    layers.put("StacApi.collections_ms", L.medianMs("StacApi.collections"))
    layers.put("StacSearch.serialize_ms", L.median(serialize))
    layers.put("TxnStore.write_ms", L.medianMs("TxnStore.write"))
    layers.put("TxnStore.view_ms", L.median(viewMs))
    layers.put("TxnStore.overlay_rows",
      Tracer.localRows(server.store.itemsView().queryExecution.executedPlan).toDouble)
    L.sparkLayers(layers)
    layers.put("tracing.overhead_ms", L.median(paired.toSeq))
    result.put("blocking_path_error", L.blockingPathError)
    result.set[JsonNode]("breakdown", L.table(op => routeOf.getOrElse(op, "?")))
    val arr = result.putArray("open")
    out.asScala.foreach(arr.add)
  }

  /** Direct calls into the layers one request crossed, same parameters. */
  private def shadowCalls(tr: Tracer, spark: SparkSession, server: StacHttp.Server,
                          shadow: TxnStore, op: Op, id: String,
                          pages: Seq[(Int, ObjectNode, String)], dir: String): Unit = {
    val n = op.params
    def view = server.store.itemsView()
    op.route match {
      case _ if op.search =>
        pages.foreach { case (pg, rec, body) =>
          val token = if (pg == 0) None else pages(pg - 1)._2.path("token").asText(null) match {
            case null => None
            case t => Some(t)
          }
          val p = tr.span(id, "cql.parse")(paramsOf(op, body, token))
          tr.span(id, "TxnStore.view_plan")(StacApi.plan(view, p).queryExecution.executedPlan)
          tr.span(id, "Tables.items_plan")(
            StacApi.plan(Tables.items(spark, dir), p).queryExecution.executedPlan)
          tr.span(id, "StacApi.plan")(StacApi.plan(view, p).queryExecution.executedPlan)
          tr.span(id, "StacApi.count")(StacApi.plan(view, p).count())
          tr.span(id, "StacApi.page")(StacApi.searchOn(view, p.copy(withCount = false)))
          tr.span(id, "StacSearch.features")(StacApi.searchFeaturesOn(view, p))
        }
      case "aggregate" =>
        val p = SearchParams(collections = strs(n, "collections"),
          datetime = Option(n.get("datetime")).map(_.asText))
        tr.span(id, "StacApi.aggregate")(StacApi.aggregateOn(view, p, strs(n, "names")))
      case "collections" =>
        tr.span(id, "StacApi.collections")(StacApi.collectionsPage(spark, dir, None, 10))
      case "item" | "raw_item" =>
        tr.span(id, "StacApi.lookup")(StacApi.searchFeaturesOn(view,
          SearchParams(collections = strs(n, "collections"), ids = strs(n, "ids"),
            limit = 1, withCount = false)))
      case w if w.startsWith("write") =>
        val c = n.get("collection").asText
        val item = n.get("id").asText
        tr.span(id, "TxnStore.write") {
          w match {
            case "write_post"   => shadow.createItem(c, op.body)
            case "write_patch"  => shadow.patchItem(c, item, op.body)
            case "write_delete" => shadow.deleteItem(c, item)
          }
        }
      case _ => ()
    }
  }
}
