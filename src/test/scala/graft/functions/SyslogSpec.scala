package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.ErrorRouting

/** Parses the reference's canonical fixture lines (FIXTURES.md §1,
  * `inttest/integration_test.go:247`, `node/node_test.go:86`), and
  * checks the scanner kernels against the regex form of the grammar
  * ([[SyslogRegex]]) on edge cases and a seeded fuzz, with codegen on
  * and off.
  */
class SyslogSpec extends SparkSpec {

  private def parseOne(line: String) = {
    import spark.implicits._
    Seq(line).toDF("raw").select(Syslog.parse(col("raw")).as("m")).select("m.*").collect().head
  }

  test("canonical CEE line without pid") {
    val r = parseOne("""<191>2006-01-02T15:04:05.999999-07:00 host.example.org test: @cee:{"a":"b"}""")
    assert(r.getAs[Int]("pri") == 191)
    assert(r.getAs[Int]("facility") == 23)
    assert(r.getAs[Int]("severity") == 7)
    assert(r.getAs[String]("host") == "host.example.org")
    assert(r.getAs[String]("program") == "test")
    assert(r.getAs[String]("pid") == "")
    assert(r.getAs[Boolean]("cee"))
    assert(r.getAs[String]("content") == """{"a":"b"}""")
  }

  test("line with pid") {
    val r = parseOne("""<191>2021-01-02T15:04:05.999999-07:00 host.example.org test[42]: @cee:{"msg":"log 42"}""")
    assert(r.getAs[String]("pid") == "42")
    assert(r.getAs[String]("program") == "test")
    assert(r.getAs[Boolean]("cee"))
  }

  test("non-cee content preserved verbatim") {
    val r = parseOne("<13>2024-01-01T00:00:00Z myhost sshd[99]: Accepted publickey for root")
    assert(!r.getAs[Boolean]("cee"))
    assert(r.getAs[String]("content") == "Accepted publickey for root")
    assert(r.getAs[Int]("facility") == 1)
    assert(r.getAs[Int]("severity") == 5)
  }

  test("stage dead-letters unparseable lines like the reference node") {
    import spark.implicits._
    val env = Seq(
      """<191>2024-01-01T00:00:00Z h p[1]: ok""",
      "not a syslog line").toDF("payload")
      .select(col("payload").cast("binary").as("payload"),
        current_timestamp().as("created"), lit(false).as("recovery"))
    val split = ErrorRouting(env, Syslog.stage)
    assert(split.output.count() == 1)
    val dead = split.deadLetters.get.collect()
    assert(dead.length == 1)
    val err = split.deadLetters.get.select(col("payload.error.code"), col("payload.error.message")).collect().head
    assert(err.getString(0) == "ERR_PARSE")
    assert(err.getString(1) == "failed to parse syslog msg")
  }

  test("parse gives a null struct for a line that does not match, under ANSI casts") {
    import spark.implicits._
    withConf("spark.sql.ansi.enabled" -> "true") {
      val rows = Seq(Some("not a syslog line"), Some("<13>x"), None).toDF("raw")
        .select(Syslog.parse(col("raw")).as("m")).collect()
      assert(rows.forall(_.isNullAt(0)), rows.mkString(", "))
    }
  }

  // ---- scanner kernel vs the regex reference ----------------------------

  private val CodegenModes = Seq(
    "codegen on" -> Seq.empty[(String, String)],
    "codegen off" -> Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val old = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private def envelope(payloads: Seq[Array[Byte]]): DataFrame = {
    import spark.implicits._
    payloads.map(Tuple1(_)).toDF("payload").repartition(4)
      .select(col("payload"), current_timestamp().as("created"), lit(false).as("recovery"))
  }

  /** kernel and regex side by side; `bad` keeps the rows where they differ */
  private def compared(env: DataFrame): (DataFrame, DataFrame) = {
    val raw = col("payload").cast("string")
    val both = env.select(col("payload"),
      Syslog.isSyslog(raw).as("kv"), SyslogRegex.isSyslog(raw).as("rv"),
      Syslog.groups(raw).as("kg"), SyslogRegex.groups(raw).as("rg"))
    val bad = both.filter(!(col("kv") <=> col("rv")) || !(col("kg") <=> col("rg")) ||
      coalesce(col("kv"), lit(false)) =!= col("kg").isNotNull)
    (both, bad)
  }

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def hex(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("scanner == regex on grammar edge cases, invalid UTF-8 and a null payload") {
    val cases: Seq[Array[Byte]] = Seq(
      "<13>t h p: a", "<13>t h p: a\n", "<13>t h p: a\r", "<13>t h p: a\r\n", "<13>t h p: a\n\n",
      "<13>t h p: a\r\n\n", "<13>t h p: a\n\r", "<13>t h p: a\u2028", "<13>t h p: a\u2029b",
      "<13>t h p: a\u0085", "<13>t h p: a\u0085b", "<13>t h p: ", "<13>t h p:  x", "<13>t h p:\u00a0a",
      "<1234>t h p: a", "<>t h p: a", "<999>t h p: a", "<0>t h p: a", " <13>t h p: a",
      "<13>t h p[]: a", "<13>t h p[12]x: a", "<13>t h p[12]: a", "<13>t h p[1a]: a", "<13>t h p[12] : a",
      "<13>t h p[[12]: a", "<13>t h p[12]]: a", "<13>t h p:[12]: a", "<13>t\u000Bx h p: a",
      "<13>t\u0085x h\u2028 p\u2029: a", "<13>t  h p: a", "<13>t h  p: a", "<13>t\th p: a",
      "<13>\u00e9 \u4e2d \ud83d\ude00[7]: \ud83d\ude00 ok", "<13>t h p: a\u3000b",
      "<13>Oct 11 host: msg", "<191>2006-01-02T15:04:05.999999-07:00 host.example.org test: @cee:{}"
    ).map(bytes) ++ Seq(
      "3c31333e7420689ff020703a2061e280",   // <13>t h\x9F\xF0 p: a\xE2\x80
      "3c31333e742068ff20703a2061",         // 0xFF inside the host
      "3c31333e7420682070c03a2061",         // overlong lead before the ':'
      "3c31333e74206820703a2061eda080",     // encoded surrogate in the content
      "3c31333e74206820703a2061c285",       // U+0085 as the last character
      "3c31333e74206820703a2061c2",         // truncated two-byte sequence at the end
      "3c31333e74206820703a2061e280a862",   // U+2028 then more content
      "3c31333e74206820703a2061f09080",     // truncated four-byte sequence at the end
      "3c31333e80206820703a2061"            // lone continuation byte as the time
    ).map(hex) :+ null
    for ((mode, conf) <- CodegenModes) withConf(conf: _*) {
      val (both, bad) = compared(envelope(cases))
      assert(bad.count() == 0, s"$mode: " + bad.collect().mkString("\n"))
      assert(both.filter(col("payload").isNull && col("kv").isNull && col("kg").isNull).count() == 1, mode)
      val byLine = both.filter(col("kv")).collect()
        .map(r => new String(r.getAs[Array[Byte]]("payload"), UTF_8) -> r.getAs[Row]("kg")).toMap
      def groupsOf(line: String) = byLine.get(line).map(g => (0 until 6).map(g.getString))
      assert(groupsOf("<13>t h p: a\r\n") == Some(Seq("13", "t", "h", "p", "", "a")), mode)
      assert(groupsOf("<13>t h p: a\u2028") == Some(Seq("13", "t", "h", "p", "", "a")), mode)
      assert(groupsOf("<13>t h p[12]: a") == Some(Seq("13", "t", "h", "p", "12", "a")), mode)
      assert(groupsOf("<13>t h p: a\n\n").isEmpty && groupsOf("<13>t h p: a\u0085b").isEmpty, mode)
      assert(groupsOf("<13>t h\uFFFD\uFFFD p: a\uFFFD") ==
        Some(Seq("13", "t", "h\uFFFD\uFFFD", "p", "", "a\uFFFD")), mode)
    }
  }

  /** `n` seeded lines: well-formed bases, each mutated by insertions of
    * grammar delimiters, whitespace, line terminators, digits and
    * non-ASCII characters, deletions, truncation and appended
    * terminators; one line in ten also gets raw invalid UTF-8 bytes. */
  private def fuzzLines(seed: Long, n: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val pool = "<>[]: \t\n\r\u000B\f\u0085\u2028\u2029".map(_.toString) ++
      (0 to 9).map(_.toString) ++ Seq("\u00e9", "\u4e2d", "\ud83d\ude00", "\u00a0", "\u3000", "@cee:")
    val ends = Seq("\n", "\r", "\r\n", "\n\n", "\r\n\n", "\u0085", "\u2028", "\u2029", " ")
    val invalid = Seq("ff", "80", "c2", "e280", "f09080", "eda080", "c0af", "9ff0").map(hex)
    def base(): String = rnd.nextInt(5) match {
      case 0 =>
        val min = rnd.nextInt(60)
        s"""<${rnd.nextInt(1200)}>2021-01-02T15:${if (min < 10) "0" else ""}$min:00.123456-07:00 """ +
          s"""host${rnd.nextInt(16)}.example.org sshd[${rnd.nextInt(1000)}]: @cee:{"msg":"login ok"}"""
      case 1 => s"<${rnd.nextInt(200)}>2024-01-01T00:00:00Z myhost cron: job started"
      case 2 => s"<13>Oct 11 host${rnd.nextInt(9)}: msg ${rnd.nextInt(99)}"
      case 3 => s"<${rnd.nextInt(30)}>t h p[${rnd.nextInt(50)}]: x"
      case _ => s"garbage record ${rnd.nextInt(1000)} without a syslog header"
    }
    Seq.fill(n) {
      val sb = new java.lang.StringBuilder(base())
      for (_ <- 0 until rnd.nextInt(4)) {
        val at = rnd.nextInt(sb.length + 1)
        rnd.nextInt(4) match {
          case 0 | 1 => sb.insert(at, pool(rnd.nextInt(pool.length)))
          case 2 => if (at < sb.length) sb.deleteCharAt(at)
          case _ => sb.setLength(at)
        }
      }
      if (rnd.nextInt(4) == 0) sb.append(ends(rnd.nextInt(ends.length)))
      val b = sb.toString.getBytes(UTF_8)
      if (rnd.nextInt(10) != 0) b
      else {
        val at = rnd.nextInt(b.length + 1)
        b.take(at) ++ invalid(rnd.nextInt(invalid.length)) ++ b.drop(at)
      }
    }
  }

  test("scanner == regex on a 120k-line seeded fuzz: routing, groups and split counts") {
    val env = envelope(fuzzLines(20261017L, 120000)).cache()
    try {
      for ((mode, conf) <- CodegenModes) withConf(conf: _*) {
        val (both, bad) = compared(env)
        assert(bad.count() == 0, s"$mode: " + bad.limit(10).collect().mkString("\n"))
        // the fuzz exercises both branches, and invalid bytes inside matched groups
        val valid = both.filter(col("kv")).count()
        assert(valid > 30000 && valid < 90000, s"$mode: $valid of 120000 lines match")
        assert(both.filter(col("kv") && col("kg").cast("string").contains("\uFFFD")).count() > 100, mode)

        val kernel = ErrorRouting(env, Syslog.stage)
        val regex = ErrorRouting(env, SyslogRegex.stage)
        def deadHash(split: ErrorRouting.Split) = split.deadLetters.get
          .agg(sum(pmod(xxhash64(col("payload.event")), lit(1000000007L)))).head().getLong(0)
        assert(kernel.output.count() == valid, mode)
        assert(regex.output.count() == valid, mode)
        assert(kernel.deadLetters.get.count() == 120000 - valid, mode)
        assert(regex.deadLetters.get.count() == 120000 - valid, mode)
        assert(deadHash(kernel) == deadHash(regex), mode)
      }
    } finally { env.unpersist(); () }
  }
}
