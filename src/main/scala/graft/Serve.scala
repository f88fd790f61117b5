package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's demo front door (reference `app/main.py:11-135`, a
  * FastAPI service over Neo4j), re-expressed as a minimal pure-JDK HTTP
  * layer over the engine:
  *
  *   GET /health                  → {"ok": true}            (S7 probe)
  *   GET /etl                     → {"ok": true}            (materialize graph)
  *   GET /recs?product_id=N      → {"items": […], "took_ms": n}
  *   GET /recs?customer_id=N     → {"items": […], "took_ms": n}
  *   GET /recs?customer_id=N&arm=ppr → same shape, Personalized-PageRank
  *       ranking (the reference's declared GDS upgrade, main.py:31-33),
  *       cascading back to the co-occurrence arms for unknown seeds
  *   GET /recs?product_id=N&arm=item → same shape, served from the
  *       precomputed item-item shelf (the item_item_topk row)
  *   GET /recs?product_id=N&arm=rrf  → same shape, reciprocal-rank
  *       fusion of the two product arms (the rec_rrf_fusion row)
  *       — every arm cascades to the reference's default chain when it
  *       has no signal for the seed
  *
  * Same wire shapes, same fallback cascade (co-occurrence → same-category,
  * reference `app/main.py:61,70-71`), same graceful degradation (any
  * engine error → 200 with empty items, `app/main.py:124-126`). The
  * serving path is the engine's top-k plans, run by
  * `operators.Recs.cascade`: each tried arm's ≤k rows are collected to
  * the driver once, behind the limit, and the reply renders the elected
  * arm from that local relation. The PPR arm also keeps its collected
  * rows in a bounded driver-side cache (GraphAlgs.pprRecsServing). This
  * is a demo shim, deliberately thin: a production deployment would put
  * the same calls behind a real app server; nothing in the engine
  * changes.
  */
object Serve {

  /** Start the service; port 0 binds an ephemeral port (tests). */
  def start(spark: SparkSession, dir: String, port: Int): HttpServer = {
    val server = HttpServer.create(new java.net.InetSocketAddress(port), 0)
    // Degraded payloads are PER-ENDPOINT: a health checker parses the
    // `ok` field (the reference's /health contract), so a failing probe
    // must answer {"ok": false} — an items-shaped body would read as
    // unparseable-but-200 to it.
    server.createContext("/health", handler("""{"ok": false}""") { _ =>
      // An actual engine liveness probe (SELECT 1), not a constant.
      val ok = Tables.healthProbe(spark).count() == 1L
      s"""{"ok": ${ok}}"""
    })
    server.createContext("/etl", handler("""{"ok": false}""") { _ =>
      // The reference's /etl rebuilds the graph synchronously
      // (app/main.py:17-19); here that is materializing the node and
      // edge relations the recs queries serve from.
      val n = graph.GraphBuilder.nodes(spark, dir).count()
      val e = graph.GraphBuilder.edges(spark, dir).count()
      s"""{"ok": ${n > 0 && e > 0}}"""
    })
    server.createContext("/recs",
        handler("""{"items": [], "took_ms": 0}""") { ex =>
      val started = System.nanoTime()
      val params = queryParams(ex)
      val arm = params.get("arm")
      // One arm chain per request through the collect-once cascade:
      // `arm=item`/`arm=rrf` (product) or `arm=ppr` (customer, the
      // ppr_fixed_recs tier) ahead of the reference's default pair; any
      // other arm value leaves the default pair untouched.
      val chain: Option[Seq[() => DataFrame]] =
        params.get("product_id").flatMap(_.toLongOption).map { pid =>
          arm.collect {
            case "item" =>
              () => graph.GraphAlgs.itemItemServing(spark, dir, pid)
            case "rrf" => () => operators.Recs.rrfServing(spark, dir, pid)
          }.toSeq ++ operators.Recs.productArms(spark, dir, pid)
        }.orElse(params.get("customer_id").flatMap(_.toLongOption).map { cid =>
          arm.collect {
            case "ppr" => () => graph.GraphAlgs.pprRecsServing(spark, dir, cid)
          }.toSeq ++ operators.Recs.customerArms(spark, dir, cid)
        })
      val items =
        try chain.fold("[]") { arms => // neither id → empty list (main.py:123)
          operators.Json.toItemsArray(operators.Recs.cascade(spark, arms: _*))
        } catch { case scala.util.control.NonFatal(_) => "[]" }
      val tookMs = (System.nanoTime() - started) / 1000000L
      s"""{"items": $items, "took_ms": $tookMs}"""
    })
    // Bounded worker pool: serving-path queries are top-k plans, but an
    // unbounded thread-per-request executor would let slow queries pile
    // up without backpressure.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    server
  }

  private def handler(degraded: String)(
      body: HttpExchange => String): HttpHandler =
    (ex: HttpExchange) => {
      val (status, payload) =
        try (200, body(ex))
        catch {
          // Degrade like the reference: a broken engine yields an empty,
          // well-formed response IN THIS ENDPOINT'S SHAPE, never a 500
          // stack trace (app/main.py:124-126).
          case scala.util.control.NonFatal(_) => (200, degraded)
        }
      val bytes = payload.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&").iterator
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).flatMap(_.toIntOption).getOrElse(8080)
    val spark = Sessions.local()
    val server = start(spark, dir, port)
    println(s"graft serving $dir on port " +
      s"${server.getAddress.getPort} (/health /etl /recs)")
    Thread.currentThread().join() // serve until killed
  }
}
