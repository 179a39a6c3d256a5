package graft

import java.nio.file.Files

/** `graft.Dev`: argument parsing is pure and rejects malformed input with
  * the usage text before any session starts; `time`, `jobs` and `plans`
  * run on a caller-owned session. */
class DevSpec extends SparkSpec {

  private def rejected(args: String*): String = {
    val e = intercept[IllegalArgumentException](Dev.parse(args))
    assert(e.getMessage.contains(Dev.Usage), s"no usage text in: ${e.getMessage}")
    e.getMessage
  }

  test("well-formed arguments parse to their sub-command") {
    assert(Dev.parse(Seq("time", "--rounds", "2", "--conf", "a.b=c=d", "q1_agg")) ===
      Dev.Time(2, Seq("a.b" -> "c=d"), Seq("q1_agg")))
    assert(Dev.parse(Seq("jobs", "q1_agg", "sql_q5")) === Dev.Jobs(Seq("q1_agg", "sql_q5")))
    assert(Dev.parse(Seq("stacks", "q1_agg")) === Dev.Stacks(Seq("q1_agg")))
    assert(Dev.parse(Seq("plans", "--out", "d", "--suffix", "s", "q1_agg")) ===
      Dev.Plans(Some("d" -> "s"), Seq("q1_agg")))
    assert(Dev.parse(Seq("plans", "q1_agg")) === Dev.Plans(None, Seq("q1_agg")))
    assert(Dev.parse(Seq("plandoc")) === Dev.PlanDoc("docs/PLANS.md"))
    assert(Dev.parse(Seq("plandoc", "x.md")) === Dev.PlanDoc("x.md"))
  }

  test("malformed arguments fail with the usage text") {
    assert(rejected("profile", "q1_agg").contains("unknown command"))
    assert(rejected().contains("unknown command"))
    assert(rejected("time", "q1_agg", "no_such_query").contains("unknown query 'no_such_query'"))
    assert(rejected("jobs").contains("at least one registered query"))
    assert(rejected("time", "--conf", "spark.sql.adaptive.enabled", "q1_agg")
      .contains("is not key=value"))
    assert(rejected("time", "--rounds", "three", "q1_agg").contains("positive integer"))
    assert(rejected("time", "--rounds").contains("needs a value"))
    assert(rejected("plans", "--out", "d", "q1_agg").contains("needs --suffix"))
  }

  test("time and plans run q1_agg on the caller's session") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) {
      Dev.run(spark, sf, Dev.parse(Seq("time", "--rounds", "2",
        "--conf", "spark.sql.adaptive.enabled=false", "q1_agg")))
    }
    val line = out.toString("UTF-8").trim
    assert(line.startsWith("""{"metric":"time",""") && line.endsWith("}"), line)
    assert(line.contains(""""conf":{"spark.sql.adaptive.enabled":"false"}"""), line)
    assert(""""q1_agg":\{"sec":\[[0-9.]+,[0-9.]+\],"min":[0-9.]+,"median":[0-9.]+\}""".r
      .findFirstIn(line).nonEmpty, line)
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") !== Some("false"),
      "time restores the session confs it set")

    val dir = Files.createTempDirectory("dev_plans")
    Console.withOut(new java.io.ByteArrayOutputStream) {
      Dev.run(spark, sf, Dev.parse(Seq("plans", "--out", dir.toString, "--suffix", "t", "q1_agg")))
    }
    val plan = new String(Files.readAllBytes(dir.resolve("q1_agg_t.txt")), "UTF-8")
    assert(plan.startsWith("== Physical Plan =="), plan.take(200))
    assert(plan.contains("lineitem"), "the scan node names the fixture table")
  }

  test("jobs names each job's SQL execution and its root plan node") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out) {
      Dev.run(spark, sf, Dev.parse(Seq("jobs", "q1_agg")))
    }
    val text = out.toString("UTF-8")
    val rows = text.linesIterator.filter(_.startsWith("  job ")).toSeq
    assert(text.contains("=== q1_agg") && rows.nonEmpty, text)
    rows.foreach(r => assert("""exec=\d+ [A-Za-z]\w*""".r.findFirstIn(r).nonEmpty, r))
  }

  test("stacks skip threads parked in a native poll or wait, and only those") {
    def native(cls: String, m: String) = new StackTraceElement(cls, m, null, -2)
    def java(cls: String, m: String) = new StackTraceElement(cls, m, "X.java", 10)
    val loop = java("io.netty.channel.epoll.EpollEventLoop", "run")
    assert(Dev.parkedInNative(Array(native("io.netty.channel.epoll.Native", "epollWait"), loop)))
    assert(Dev.parkedInNative(Array(native("sun.nio.ch.EPoll", "wait"))))
    assert(Dev.parkedInNative(Array(native("sun.nio.ch.Net", "poll"))))
    assert(Dev.parkedInNative(Array(native("sun.nio.ch.Net", "accept"))))
    // native frames that move data, and Java frames named like waits, are work
    assert(!Dev.parkedInNative(Array(native("java.io.FileInputStream", "readBytes"))))
    assert(!Dev.parkedInNative(Array(java("graft.Dispatch", "awaitSlot"))))
    // a parked frame below the top does not make the thread idle
    assert(!Dev.parkedInNative(Array(
      java("org.apache.spark.sql.execution.SparkPlan", "execute"),
      native("sun.nio.ch.EPoll", "wait"))))
    assert(!Dev.parkedInNative(Array.empty))
  }

  test("plandoc masks the random names of temporary table directories") {
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    val plan = s"+- Scan CommitLogRelation($tmp/occ_sql8231904, v2)  (1)\n" +
      s"+- Scan ChangeFeedRelation($tmp/cdf_src77/x, versions (-1, 3])  (1)\n" +
      "+- Scan CommitLogRelation(/data/occ_sql8231904, v2)  (1)"
    assert(Dev.stableTempPaths(plan) ===
      "+- Scan CommitLogRelation(<tmp>/occ_sql*, v2)  (1)\n" +
      "+- Scan ChangeFeedRelation(<tmp>/cdf_src*/x, versions (-1, 3])  (1)\n" +
      "+- Scan CommitLogRelation(/data/occ_sql8231904, v2)  (1)")
  }
}
