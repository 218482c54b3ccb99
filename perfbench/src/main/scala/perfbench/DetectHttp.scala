package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.api.Detect
import graft.fixtures.Fixtures
import graft.langid.FastLangId
import graft.ppl.NgramLM
import graft.scrub.Scrubber
import graft.serve.HttpApi

/** `detect_http`: a closed loop of `min(4, cores)` clients against an in-process
  * `HttpApi`, started as `ServeMain` starts it. Each client sends its next
  * request only after the previous reply. The stream, fixed by the seed:
  *
  *  - POST `/detect` with a fixture text (the rest of the stream);
  *  - POST `/detect` with a long text, every `LongEvery`-th request: code of
  *    a few KB to tens of KB holding a URL-safe base64 data URI or a long
  *    identifier beside one email, where the EMAIL scan is slowest;
  *  - POST `/detect/batch` of `BatchTexts` fixture texts, every
  *    `BatchEvery`-th request.
  *
  * The client is the JDK's `HttpURLConnection` with its defaults: each
  * client keeps its connection alive between requests, as HTTP/1.1 clients
  * do. No socket option is changed on either side, so the serve layer's
  * waits show as they are.
  */
object DetectHttp {

  val LongEvery = 20
  val BatchEvery = 50
  val BatchTexts = 100
  val ShortPool = 2000
  val LongPool = 20
  val TimeoutMs = 60000
  /** Seconds of warm traffic in each set-up and, untimed, before the timed
    * loop; and batches timed in process.
    */
  val WarmSeconds = 1.0
  val WarmUpSeconds = 3.0
  val ApiBatches = 5
  /** Lengths of the long texts, cycled in turn. Every long text holds a run
    * of the same length, so the EMAIL scan costs about the same in each and
    * the tail latency does not hinge on which texts a run happens to send.
    */
  val LongChars = Vector(4000, 8000, 16000, 24000, 32000)
  val RunChars = 2000

  private val mapper = new ObjectMapper()

  sealed trait Kind
  case object ShortText extends Kind
  case object LongText extends Kind
  case object BatchReq extends Kind

  final case class Req(kind: Kind, route: String, texts: IndexedSeq[String], body: Array[Byte])
  final case class Reply(req: Req, status: Int, body: String, seconds: Double, error: String)

  /** The seeded request stream; request `k` is a pure function of (seed, k). */
  final class Stream(seed: Long) {
    private val base = Corpus.offsetFor(seed)
    val short: IndexedSeq[String] = Iterator.from(0)
      .map(j => Fixtures.genRow(base + j)._1.content)
      .filter(t => t.trim.nonEmpty && t.length <= Scrubber.MaxChars)
      .take(ShortPool).toIndexedSeq
    val long: IndexedSeq[String] = (0 until LongPool).map(j => longText(seed, j))
    private val batches = (0 until ShortPool / BatchTexts).map(b =>
      short.slice(b * BatchTexts, (b + 1) * BatchTexts))

    private def single(kind: Kind, t: String) =
      Req(kind, "/detect", Vector(t), mapper.writeValueAsBytes(Map("text" -> t).asJava))
    private val shortReqs = short.map(single(ShortText, _))
    private val longReqs = long.map(single(LongText, _))
    private val batchReqs = batches.map(ts => Req(BatchReq, "/detect/batch", ts,
      mapper.writeValueAsBytes(Map("texts" -> ts.asJava).asJava)))

    def apply(k: Long): Req =
      if (k % BatchEvery == BatchEvery - 1) batchReqs(((k / BatchEvery) % batchReqs.length).toInt)
      else if (k % LongEvery == LongEvery / 2) longReqs(((k / LongEvery) % LongPool).toInt)
      else shortReqs((k % ShortPool).toInt)

    def batchTexts: IndexedSeq[IndexedSeq[String]] = batches
  }

  /** Code of `LongChars(j)` chars built from fixture rows, with one long
    * run of email local-part characters and one email in a comment.
    */
  def longText(seed: Long, j: Int): String = {
    val rng = new SplittableRandom(seed * 1000003L + j)
    val size = LongChars(j % LongChars.length)
    val alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    // even texts: a URL-safe base64 data URI; odd texts: a long identifier
    val alphabet = if (j % 2 == 0) alnum + "-_" else alnum
    val run = (0 until RunChars)
      .map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString
    val payload =
      if (j % 2 == 0) s"""  val logo = "data:image/png;base64,$run"\n"""
      else s"  val x$run = 0\n"
    val sb = new StringBuilder("// maintainer: build.team@example.com\n")
    var i = Corpus.offsetFor(seed + 7919L * (j + 1))
    def code(upTo: Int): Unit = while (sb.length < upTo) {
      val t = Fixtures.genRow(i)._1.content
      if (t.length <= 4000) sb.append(t).append('\n')
      i += 1
    }
    code(size / 2)
    sb.append(payload)
    code(size)
    sb.result().take(size)
  }

  private def send(port: Int, req: Req): Reply = {
    val t = System.nanoTime()
    try {
      val conn = new URI(s"http://127.0.0.1:$port${req.route}").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(TimeoutMs)
      conn.setReadTimeout(TimeoutMs)
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(req.body) finally os.close()
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val text =
        if (is == null) ""
        else try new String(is.readAllBytes(), StandardCharsets.UTF_8) finally is.close()
      Reply(req, status, text, (System.nanoTime() - t) / 1e9, null)
    } catch {
      case e: Exception => Reply(req, -1, null, (System.nanoTime() - t) / 1e9, e.toString)
    }
  }

  /** Run `clients` closed-loop clients over the stream for `seconds`;
    * returns every reply and the wall seconds of the loop.
    */
  def closedLoop(port: Int, stream: Stream, clients: Int, seconds: Double, start: Long,
      tracer: Tracer): (Vector[Reply], Double) = {
    val next = new AtomicLong(start)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer[Reply]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        val mine = mutable.ArrayBuffer[Reply]()
        while (System.nanoTime() < deadline) {
          val req = stream(next.getAndIncrement())
          mine += tracer.span(s"POST ${req.route}")(_ => send(port, req))
        }
        out.synchronized(out ++= mine)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (out.toVector, (System.nanoTime() - t0) / 1e9)
  }

  /** The reply carries, for every text, the redacted text an in-process
    * `Scrubber.scrub` gives.
    */
  private def replyOk(rep: Reply, expected: String => String): Boolean =
    rep.status == 200 && {
      val node = mapper.readTree(rep.body)
      val items = if (rep.req.kind == BatchReq) node.get("results").elements().asScala.toVector else Vector(node)
      items.length == rep.req.texts.length && items.zip(rep.req.texts).forall { case (n, t) =>
        n.get("redacted_text").asText() == expected(t)
      }
    }

  def run(ctx: Ctx): Report = {
    val r = new Report
    val clients = math.min(4, ctx.cores)
    val (stream, genS) = Timer.timed(new Stream(ctx.seed))
    val modelDir = new File(ctx.work, s"model-${ProcessHandle.current().pid()}").getPath

    var spark: SparkSession = null
    var api: HttpApi = null
    var port = 0
    // HttpApi.stop() leaves the server's fixed thread pool running (its
    // threads are not daemons), so the process must end with an explicit
    // exit, which Main does.
    val setups = (1 to Bench.SetUps).map { _ =>
      if (api != null) api.stop()
      if (spark != null) spark.stop()
      Timer.seconds {
        spark = ctx.session()
        spark.sparkContext.setLogLevel("ERROR")
        FastLangId.model; NgramLM.model
        graft.io.ModelArtifacts.saveLabelMapping(spark, modelDir,
          graft.ingest.Prepare.buildLabelMapping(Seq("EMAIL", "PHONE"), Seq.empty))
        api = new HttpApi(spark, modelDir)
        port = api.start()
        closedLoop(port, stream, clients, WarmSeconds, 0L, new Tracer(false))
      }
    }.toVector

    val (warm, _) = Bench.phase("warm-up")(
      closedLoop(port, stream, clients, WarmUpSeconds, 500000L, new Tracer(false)))
    val gc0 = Layers.gcSeconds()
    val (replies, wall) = closedLoop(port, stream, clients, ctx.seconds, 1000000L, new Tracer(false))
    val gcS = Layers.gcSeconds() - gc0
    val detects = replies.filter(_.req.kind != BatchReq)
    Bench.endToEnd(r, setups, detects.map(_.seconds),
      replies.map(_.req.texts.length).sum / wall, replies.length / wall)
    var all = warm ++ replies

    if (ctx.trace) {
      val rec = new StageRecorder(spark.sparkContext)
      val cpu0 = Layers.processCpuSeconds()
      rec.open()
      val (traced, tracedWall) = closedLoop(port, stream, clients, ctx.seconds / 2, 2000000L, ctx.tracer)
      val totals = rec.close()
      val cpuS = Layers.processCpuSeconds() - cpu0
      all = all ++ traced
      r.put("bench.trace_overhead", (tracedWall / traced.length) / (wall / replies.length), "ratio")

      Layers.analysis(stream.short.take(Pipelines.SampleRows), stream.long, r)
      // serve overhead: client-side latency minus the in-process scrub of
      // the same text, per /detect request
      val scrubS = mutable.HashMap[String, Double]()
      val tracedDetects = traced.filter(_.req.kind != BatchReq)
      tracedDetects.foreach { rep =>
        val t = rep.req.texts.head
        if (!scrubS.contains(t)) { Scrubber.scrub(t); scrubS(t) = Timer.seconds(Scrubber.scrub(t)) }
      }
      val overheadMs = tracedDetects.map(rep => (rep.seconds - scrubS(rep.req.texts.head)) * 1e3)
      val batchReplies = traced.filter(_.req.kind == BatchReq)
      val batchTexts = batchReplies.map(_.req.texts.length.toLong).sum
      // the batch path runs only the scrubber on each text
      Bench.sparkLayers(r, totals, traced.length, batchTexts, tracedWall, ctx.cores,
        r.value("scrub.us_per_row"))
      r.put("serve.overhead_ms_p50", Report.median(overheadMs), "ms")
      r.put("serve.overhead_ms_p99", Report.percentile(overheadMs, 0.99), "ms")
      r.put("serve.cpu_ms_per_req", cpuS * 1e3 / traced.length, "ms")
      r.put("serve.batch_ms_p50",
        if (batchReplies.isEmpty) 0.0 else Report.median(batchReplies.map(_.seconds)) * 1e3, "ms")
      r.put("serve.detect_samples", tracedDetects.length.toDouble, "count")
      r.put("serve.batch_samples", batchReplies.length.toDouble, "count")

      // the library call behind /detect/batch, in process, on the same batches
      val batches = stream.batchTexts.take(ApiBatches)
      batches.foreach(ts => Detect.detectBatch(spark, ts).collect())
      rec.open()
      val apiMs = batches.map(ts => Timer.seconds(Detect.detectBatch(spark, ts).collect()) * 1e3)
      val apiTotals = rec.close()
      rec.detach()
      r.put("api.batch_ms", Report.median(apiMs), "ms")
      r.put("api.batch_jobs", apiTotals.jobs.toDouble / batches.length, "count")
      Bench.absent(r, Bench.IoMetrics: _*)
    }

    // correctness, outside the timed region
    val expected = mutable.HashMap[String, String]()
    def scrubbed(t: String) = expected.getOrElseUpdate(t, Scrubber.scrub(t).scrubbed)
    r.attempted += all.length
    all.foreach { rep =>
      val ok = rep.error == null && (try replyOk(rep, scrubbed) catch { case _: Exception => false })
      if (!ok) {
        r.failed += 1
        r.check(false, s"${rep.req.route} -> ${rep.status} ${Option(rep.error).getOrElse("")}")
      }
    }
    api.stop()
    Bench.finish(ctx, spark, r, gcS, genS)
  }
}
