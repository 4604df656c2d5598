package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, HttpTimeoutException}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.GraftSession
import graft.api.{HttpApi, Service}

/** One measured run of one workload, in a fresh JVM:
  * {{{ Bench <dataDir> <workload> <seed> <seconds> <minRequests> <trace> <master> <clients> <setups> <warmup> <out> }}}
  *
  * Sets up `setups` times (session, catalog open, server start,
  * warm-up; the first from JVM start), then drives the loopback HTTP
  * server with `clients` closed-loop clients for `seconds`, and on
  * until `minRequests` requests were sent. With trace = 1 it instead
  * replays each request in-process through the layers' public calls,
  * with spans and Spark counters. Raw samples go to `out` as JSON;
  * `stats.py` turns them into metrics and checks the responses.
  */
object Bench {

  final case class Sample(req: Int, status: Int, startNs: Long, endNs: Long, body: String)

  private implicit val fmts: Formats = DefaultFormats

  /** Task slots of a `local[n]` master: the session's shuffle width. */
  private def cores(master: String): Int = master.stripPrefix("local[").stripSuffix("]").toInt

  /** Host CPU jiffies (`/proc/stat`), to report the steal time the
    * hypervisor took during the timed window.
    */
  private def cpuTimes(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  /** Reference request ceiling: the callers give up after 120 s. */
  private val RequestTimeout = Duration.ofSeconds(120)

  def main(args: Array[String]): Unit = {
    val Array(dataDir, workload, seed, seconds, minRequests, trace, master, clients, setups, warmup, out) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val reqs = JsonMethods.parse(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dataDir/seed-$seed/$workload.json")))
      .extract[List[Map[String, JValue]]]
      .map(r => (r("path").extract[String], r("body").extract[String])).toIndexedSeq

    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    var spark: SparkSession = null
    var cat: Service.Catalog = null
    var base = ""
    def post(k: Int): Sample = {
      val (path, body) = reqs(k % reqs.size)
      val rq = HttpRequest.newBuilder(URI.create(base + path)).timeout(RequestTimeout)
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val t0 = System.nanoTime()
      val (status, resp) =
        try {
          val r = http.send(rq, HttpResponse.BodyHandlers.ofString())
          (r.statusCode(), r.body())
        } catch {
          case _: HttpTimeoutException => (Samples.Timeout, "")
          case e: java.io.IOException => (Samples.IoError, e.toString)
        }
      Sample(k % reqs.size, status, t0, System.nanoTime(), resp)
    }

    // set-up, repeated: each one ends when the warm-up is answered
    val setupS = (1 to setups.toInt).map { i =>
      val t0 = if (i == 1) System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
               else System.nanoTime()
      spark = GraftSession.builder(master, cores(master)).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      cat = Service.Catalog(spark, Catalog.path)
      cat.metas
      val srv = HttpApi.start(cat, 0)
      base = s"http://localhost:${srv.getAddress.getPort}"
      (0 until warmup.toInt).foreach { k =>
        val s = post(k)
        require(s.status == 200, s"warm-up request $k failed: ${s.status} ${s.body.take(300)}")
      }
      val took = (System.nanoTime() - t0) / 1e9
      if (i < setups.toInt) { srv.stop(0); spark.stop() }
      took
    }

    val cpu0 = cpuTimes()
    val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
    val result: Map[String, Any] =
      if (trace == "1") new Replay(spark, cat, reqs, post).run(warmup.toInt, deadline)
      else {
        val next = new AtomicInteger(warmup.toInt)
        val last = warmup.toInt + minRequests.toInt
        val samples = java.util.Collections.synchronizedList(new java.util.ArrayList[Sample]())
        val t0 = System.nanoTime()
        val threads = (0 until clients.toInt).map { _ =>
          val t = new Thread(() => {
            var k = next.getAndIncrement()
            while (System.nanoTime() < deadline || k < last) {
              samples.add(post(k))
              k = next.getAndIncrement()
            }
          })
          t.start()
          t
        }
        threads.foreach(_.join())
        val all = scala.jdk.CollectionConverters.ListHasAsScala(samples).asScala.toSeq
        Map("window_s" -> (all.map(_.endNs).max - t0) / 1e9, "samples" -> all.map(Samples.json))
      }

    val cpu1 = cpuTimes()
    val status = scala.io.Source.fromFile("/proc/self/status")
    val rssKb = try status.getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }.getOrElse(0L)
      finally status.close()
    val doc = result ++ Map("setup_s" -> setupS, "peak_rss_kb" -> rssKb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "cpu_steal_pct" -> 100.0 * (cpu1(7) - cpu0(7)) / math.max(1L, cpu1.sum - cpu0.sum),
      "spark_master" -> spark.sparkContext.master, "clients" -> clients.toInt)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Serialization.write(doc))
    spark.stop()
    System.exit(0) // the server's worker pool holds non-daemon threads
  }
}

object Samples {
  /** Status codes for requests that got no HTTP answer. */
  val Timeout: Int = -1
  val IoError: Int = -2

  def json(s: Bench.Sample): Map[String, Any] =
    Map("req" -> s.req, "status" -> s.status, "ms" -> (s.endNs - s.startNs) / 1e6, "body" -> s.body)
}
