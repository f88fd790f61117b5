package perfbench

import java.net.{HttpURLConnection, URL}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

/** `recs_serve`: a closed loop of clients against an in-process
  * `graft.Serve`. Each client sends its next request only after the
  * previous reply, until its sequence is done; the clients serve their
  * sequences `passes` times, one timed pass each, so every request has
  * one latency sample per pass. The sequences come from the spec file
  * `run.py` generates from the seed, a `passes <n>` line and one line per
  * request:
  *
  *   req <client> <arm> <id> <1 if the answer should be non-empty> [sample]
  *
  * A `sample` request's reply is also checked against the answer
  * computed in-process (and, for the default arms, by run.py against
  * DuckDB).
  */
object RecsServe {
  import Main._

  val K = 10
  val Arms = Seq("prod", "cust", "item", "rrf")
  /** The reason a reply carries when its arm's primary query answered. */
  val Primary = Map("prod" -> "co-occurrence", "cust" -> "co-occurrence",
    "item" -> "item-item", "rrf" -> "rrf_fusion")

  final case class Req(arm: String, id: Long, expectNonEmpty: Boolean,
                       sample: Boolean)
  final case class Done(req: Req, latencyMs: Double, tookMs: Double,
                        ok: Boolean, fallback: Boolean, body: String) {
    def arm: String = req.arm
  }

  def query(arm: String, id: Long): String = arm match {
    case "prod" => s"product_id=$id"
    case "cust" => s"customer_id=$id"
    case "item" => s"product_id=$id&arm=item"
    case "rrf" => s"product_id=$id&arm=rrf"
  }

  /** One blocking GET that gives up after `timeoutMs`; returns (status,
    * body). */
  def get(port: Int, q: String, timeoutMs: Long = 120000): (Int, String) = {
    val c = new URL(s"http://127.0.0.1:$port/recs?$q")
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(math.max(1L, timeoutMs).toInt)
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val body =
        if (in == null) ""
        else try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (status, body)
    } finally c.disconnect()
  }

  private val mapper = new ObjectMapper()

  /** Validate the wire shape; returns (n_items, took_ms, first reason) or
    * a description of what is wrong. */
  def parse(body: String): Either[String, (Int, Double, String)] =
    try {
      val root = mapper.readTree(body)
      val items = root.get("items")
      val took = root.get("took_ms")
      if (items == null || !items.isArray) Left("no items array")
      else if (took == null || !took.isNumber) Left("no took_ms")
      else if (items.size > K) Left(s"${items.size} items > k=$K")
      else {
        val bad = items.elements().asScala.find { it =>
          val p = it.get("product_id"); val s = it.get("score")
          val r = it.get("reason")
          p == null || !p.isIntegralNumber || s == null || !s.isNumber ||
            r == null || !r.isTextual
        }
        if (bad.nonEmpty) Left(s"bad item ${bad.get}")
        else Right((items.size, took.asDouble,
          if (items.size == 0) "" else items.get(0).get("reason").asText))
      }
    } catch { case NonFatal(e) => Left(s"unparseable: ${e.getMessage}") }

  /** The items array of a reply body, verbatim. */
  def itemsOf(body: String): String =
    body.stripPrefix("{\"items\": ").replaceAll(", \"took_ms\": \\d+}$", "")

  /** The answer Serve should give, computed in-process through the same
    * public engine calls and the same cascade. */
  def inProcess(ctx: Ctx, arm: String, id: Long): String = {
    import graft.operators.{Json, Recs}
    import graft.graph.GraphAlgs
    val s = ctx.spark; val d = ctx.opts.data
    def prod = Json.toItemsArray(Recs.recsForProduct(s, d, id))
    def cust = Json.toItemsArray(Recs.recsForCustomer(s, d, id))
    def orElse(a: String, b: => String) = if (a != "[]") a else b
    arm match {
      case "prod" => prod
      case "cust" => cust
      case "item" => orElse(Json.toItemsArray(GraphAlgs.itemItemServing(s, d, id)), prod)
      case "rrf" => orElse(Json.toItemsArray(Recs.rrfServing(s, d, id)), prod)
    }
  }

  def run(ctx: Ctx, rep: Report): Unit = {
    val lines = scala.io.Source.fromFile(ctx.opts.spec).getLines()
      .map(_.trim.split(" ")).toSeq
    val perClient = lines.collect { case Array("req", c, a, id, e, rest @ _*) =>
      (c.toInt, Req(a, id.toLong, e == "1", rest.contains("sample"))) }
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).toIndexedSeq)
    val clients = perClient.size
    val passes = lines.collectFirst { case Array("passes", n) => n.toInt }.getOrElse(1)

    val server = graft.Serve.start(ctx.spark, ctx.opts.data, 0)
    val port = server.getAddress.getPort
    val pool = Executors.newFixedThreadPool(math.max(clients, 4))
    def all[A](tasks: Seq[() => A]): Seq[A] =
      pool.invokeAll(tasks.map(t => new Callable[A] { def call(): A = t() })
        .asJava).asScala.map(_.get).toSeq
    try {
      // Warm-up, concurrent on the serving pool's width: the item-item
      // shelf (index-class state a long-lived service builds once) and
      // one request per query arm, so their plans are compiled before
      // timing.
      val (_, warmMs) = time {
        val shelf: () => Unit = () => {
          val (_, ms) = time(graft.graph.GraphAlgs
            .itemItemShelf(ctx.spark, ctx.opts.data).count())
          rep.layer("setup.prewarm_s.graph") = ms / 1000.0
        }
        val reqs = Seq("prod", "cust", "rrf")
          .map(a => () => { get(port, query(a, 1L)); () })
        all(shelf +: reqs)
      }
      rep.layer("setup.warmup_s") = warmMs / 1000.0

      ctx.setupDone()
      val before = ctx.snap()
      val done = mutable.ArrayBuffer[Done]()
      for (_ <- 1 to passes) rep.pass {
        val pass = all(perClient.map { seq => () =>
          val out = mutable.ArrayBuffer[Done]()
          for (r <- seq) {
            val s0 = System.nanoTime()
            val res =
              if (ctx.pastDeadline) Left("not sent by the deadline")
              else try Right(get(port, query(r.arm, r.id), ctx.remainingMs))
                catch { case NonFatal(e) => Left(e.toString) }
            def failed(why: String) =
              Done(r, rep.fail(s"${r.arm} ${r.id}: $why"), 0, ok = false,
                fallback = false, body = "")
            val lat = (System.nanoTime() - s0) / 1e6
            out += (res match {
              case Left(e) => failed(e)
              case Right((status, _)) if status != 200 => failed(s"HTTP $status")
              case Right((_, body)) => parse(body) match {
                case Left(err) => failed(err)
                // Serve answers an engine error with 200 and no items, so an
                // empty reply where the data has an answer is a failure.
                case Right((n, _, _)) if (n > 0) != r.expectNonEmpty =>
                  failed(s"$n items, expected " + (if (r.expectNonEmpty) "some" else "none"))
                case Right((n, took, reason)) =>
                  Done(r, lat, took, ok = true, n > 0 && reason != Primary(r.arm), body)
              }
            })
          }
          out.toSeq
        }).flatten
        for ((d, i) <- pass.zipWithIndex) rep.op(s"req$i", d.latencyMs)
        done ++= pass
      }
      val span = ctx.snap() - before

      val okDone = done.toSeq.filter(_.ok)
      val n = math.max(1, okDone.size).toDouble
      rep.layer("serve.wait_ms") = median(okDone.map(d => d.latencyMs - d.tookMs))
      for (a <- Arms)
        rep.layer(s"serve.took_ms.$a") = median(okDone.filter(_.arm == a).map(_.tookMs))
      rep.layer("recs.fallback_pct") = 100.0 * okDone.count(_.fallback) / n
      rep.layer("recs.jobs_per_req") = span.jobs / n
      rep.layer("recs.tasks_per_req") = span.tasks / n
      rep.layer("recs.plan_ms_per_req") = span.planMs / n
      rep.layer("recs.exec_cpu_ms_per_req") = span.execCpuMs / n
      rep.layer("recs.input_bytes_per_req") = span.inputBytes / n

      // Output check, outside the timed window: each sample reply must
      // equal, byte for byte, the answer computed in-process. The default
      // arms' answers also go to run.py for the DuckDB check. A sample
      // that failed is already counted in `failed`.
      val samples = perClient.flatten.filter(_.sample)
      val served = done.filter(d => d.req.sample && d.ok).groupBy(_.req)
      val checked = all(samples.map { r => () =>
        served.get(r).map(ds => (r, ds.map(d => itemsOf(d.body)).distinct,
          inProcess(ctx, r.arm, r.id)))
      })
      for (Some((r, gots, want)) <- checked; got <- gots if got != want)
        rep.wrong(s"${r.arm} ${r.id} served $got but in-process gives $want")
      rep.extra("samples") = checked.flatten.map { case (r, gots, _) =>
        val got = gots.head
        s"""{"arm": "${r.arm}", "id": ${r.id}, "items": $got}""" }
        .mkString("[", ", ", "]")
    } finally {
      server.stop(0)
      pool.shutdownNow()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }
}
