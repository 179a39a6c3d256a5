package perfbench

import graft.operators.Komodo
import graft.sources.Dispatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One request of the `data_requests` queue. */
final case class Request(id: Long, fn: String, session: String, client: Int,
                         interaction: Int, entity: Int) {
  def json: String = {
    val msg = fn match {
      case "aggregate_interaction_type" => s"""{"sessionId":"$session","interactionType":$interaction}"""
      case "aggregate_user" => s"""{"sessionId":"$session","clientId":$client}"""
      case _ => s"""{"clientId":$client,"entityType":$entity}"""
    }
    s"""{"request_id":$id,"aggregation_function":"$fn","is_it_fulfilled":0,"message":${Json.str(msg)}}"""
  }

  /** The same analytic, called directly. */
  def direct(spark: SparkSession, data: String): DataFrame = fn match {
    case "aggregate_interaction_type" => Komodo.aggInteraction(spark, data, session, interaction)
    case "aggregate_user" => Komodo.aggUser(spark, data, session, client)
    case _ => Komodo.userEnergy(spark, data, Some(client), Some(entity))
  }
}

/** Request blocks served through `Dispatch.run`, the serving loop's pass:
  * parse, route, run the analytic on the cloned no-codegen session over
  * the shared events scan, write each CSV on the driver, append the
  * ledger. A block is one request for each routed Komodo analytic, with
  * parameters from the run's seed, written as a requests file and read
  * with `Dispatch.requestSchema`. [[check]] then requires every request
  * sent to be ledgered exactly once with a CSV equal to the direct call. */
final class Requests(ctx: Ctx) {
  import Requests._
  private val spark = ctx.spark
  private val files = ctx.dir("requests")
  private val out = ctx.dir("requests-out")
  private val ledger = ctx.dir("requests-ledger")
  private val sent = mutable.ArrayBuffer.empty[Request]

  def next(): Seq[Request] = Fns.toSeq.map { fn =>
    val r = Request(sent.size + 1L, fn, Sessions(ctx.rng.nextInt(Sessions.length)),
      ctx.rng.nextInt(1500), ctx.rng.nextInt(10), ctx.rng.nextInt(4))
    sent += r
    r
  }

  /** Serve `block`; returns the number of requests fulfilled. */
  def serve(block: Seq[Request]): Int = {
    val f = new java.io.File(files, s"b${block.head.id}.json")
    java.nio.file.Files.writeString(f.toPath, block.map(_.json).mkString("", "\n", "\n"))
    val requests = spark.read.schema(Dispatch.requestSchema).json(f.getAbsolutePath)
    Dispatch.run(spark, ctx.args.data, requests, out, ledger).size
  }

  def check(): Unit = {
    val counts = spark.read.parquet(ledger).groupBy("request_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sent.map(_.id).toSet
    val bad = ids.filterNot(id => counts.get(id).contains(1L)) ++ (counts.keySet -- ids)
    ctx.rec.check("ledgered_exactly_once", bad.isEmpty,
      s"${bad.size} requests not ledgered exactly once: ${bad.toSeq.sorted.take(10)}")
    // Direct calls, four at a time over a cached events frame, on a session
    // with code generation off (as the dispatcher's clone has it: these are
    // result-sized plans). Each is also a timing of the analytic without
    // the serving path around it.
    val direct0 = spark.newSession()
    direct0.conf.set("spark.sql.codegen.wholeStage", "false")
    direct0.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val events = graft.Tables.events(direct0, ctx.args.data).cache()
    events.count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val direct = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = sent.toSeq.map { r => scala.concurrent.Future {
        val t0 = Clock.nowMs
        val lines = scala.util.Try(
          r.direct(direct0, ctx.args.data).collect().map(csvLine).sorted.toSeq)
        (r, t0, Clock.nowMs, lines)
      } }
      fs.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    events.unpersist()
    val wrong = direct.filter { case (r, t0, t1, lines) =>
      ctx.rec.ops += mutable.LinkedHashMap[String, Any]("id" -> ctx.rec.ops.size, "kind" -> "direct",
        "name" -> r.fn, "t0" -> t0, "t1" -> t1, "ok" -> lines.isSuccess) ++
        lines.failed.toOption.map(e => "error" -> e.toString.take(500))
      val got = csvFile(r.id).map { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().drop(1).toSeq.sorted finally src.close()
      }
      lines.toOption.isEmpty || got != lines.toOption
    }.map(_._1)
    ctx.rec.check("csv_equals_direct_call", wrong.isEmpty,
      s"${wrong.size} CSVs differ from the direct call: ${wrong.map(_.id).take(10)}")
  }

  private def csvFile(id: Long): Option[java.io.File] =
    Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .find(_.getName.endsWith(s"_req$id"))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty).find(_.getName.endsWith(".csv")))
}

object Requests {
  val Fns = Array("aggregate_interaction_type", "aggregate_user", "user_energy")
  val Sessions = Array("click", "view", "purchase", "signup", "error")

  /** A result row as the dispatcher's CSV writer renders it. */
  def csvLine(r: org.apache.spark.sql.Row): String =
    (0 until r.length).map { i =>
      val v = r.get(i)
      if (v == null) ""
      else {
        val s = v.toString
        if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        else s
      }
    }.mkString(",")
}
