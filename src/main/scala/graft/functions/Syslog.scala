package graft.functions

import java.nio.charset.StandardCharsets
import java.time.ZoneId

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.{FailSpec, Stage}

/** RFC3164+CEE syslog parsing (whole-stage codegen; no UDF). Behavior
  * of the reference's `syslogparser` node
  * (`node/syslogparser/syslogparser.go:25-40`, captainslog parse):
  * unparseable lines are routed to the error handler, parsed lines
  * become the struct payload of SURVEY §1.5:
  *
  *   struct<pri, facility, severity, time, host, program, pid, cee, content>
  *
  * Grammar handled: `<PRI>TIMESTAMP HOST TAG[: ]CONTENT` with optional
  * `[pid]` in the tag and optional `@cee:` JSON cookie in the content.
  * The normative grammar is this `java.util.regex` pattern, applied with
  * `Matcher.find` to the payload decoded as UTF-8 (invalid bytes become
  * U+FFFD):
  *
  *   `^<(\d{1,3})>(\S+) (\S+) ([^:\[\s]+)(?:\[(\d+)\])?: (.*)$`
  *
  * The pattern itself is not evaluated here. [[SyslogValidK]] and
  * [[SyslogScanK]] implement it as one forward scan of the UTF-8 bytes,
  * which an ASCII line needs no decode for. `SyslogSpec` checks the
  * scanner against the pattern (`SyslogRegex` in the tests) on edge
  * cases and a seeded fuzz, with codegen on and off.
  *
  * A line that matches the grammar but whose time token does not cast
  * to a timestamp (`<13>Oct 11 host: msg`, time `Oct`) is unparseable
  * too: [[SyslogParsesK]] routes it to the error handler in the same
  * scan, instead of letting the cast fail the whole batch under ANSI
  * mode.
  */
object Syslog {

  import org.apache.spark.sql.graft.ColumnBridge.{toColumn, toExpression}

  /** the six capture groups, in pattern order */
  val GroupNames: Seq[String] = Seq("pri", "time", "host", "program", "pid", "content")

  /** true when the string matches the grammar; null for a null input. */
  def isSyslog(raw: Column): Column = toColumn(SyslogValidK(toExpression(raw)))

  /** true when the string matches the grammar AND its time token casts
    * to a timestamp (the stage's routing test); null for a null input. */
  def parses(raw: Column): Column = toColumn(SyslogParsesK(toExpression(raw)))

  /** the six capture groups as a struct of strings (`pid` is "" when the
    * tag has no `[pid]`); null when the line does not match. */
  def groups(raw: Column): Column = toColumn(SyslogScanK(toExpression(raw)))

  /** Parse a raw syslog string into the typed struct. The struct is null
    * when the line does not match the grammar (the stage never projects
    * such rows: its failWhen dead-letters them first). The timestamp is
    * the captured token cast to a timestamp, the cast [[parses]] checks.
    */
  def parse(raw: Column): Column = {
    val g = groups(raw)
    val pri = g("pri").cast("int")
    val rawContent = g("content")
    val cee = rawContent.startsWith("@cee:")
    toColumn(NullUnlessK(toExpression(g), toExpression(struct(
      pri.as("pri"),
      (pri / 8).cast("int").as("facility"),
      pmod(pri, lit(8)).cast("int").as("severity"),
      g("time").cast(TimestampType).as("time"),
      g("host").as("host"),
      g("program").as("program"),
      g("pid").as("pid"),
      cee.as("cee"),
      when(cee, substring(rawContent, 6, Int.MaxValue)).otherwise(rawContent).as("content")))))
  }

  /** The syslogparser node: bytes payload → syslog struct payload,
    * unparseable lines (no grammar match, or a time token that does not
    * cast) dead-lettered.
    */
  def stage: Stage = {
    val raw = col("payload").cast("string")
    Stage(
      failWhen = Some(FailSpec(
        cond = !parses(raw),
        code = lit("ERR_PARSE"),
        msg = lit("failed to parse syslog msg"))),
      project = df => df.select(parse(raw).as("payload"), col("created"), col("recovery")))
  }

  // ---- the scanner ------------------------------------------------------

  @inline private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'

  /** `\s` without UNICODE_CHARACTER_CLASS: [ \t\n\x0B\f\r] */
  @inline private def isSpace(c: Int): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** One pass of the grammar over `n` UTF-8 bytes at (base, off). When
    * `cut` is non-null, a match writes each group's [start, end) byte
    * offsets into it, in pattern order.
    *
    * Every delimiter of the pattern is ASCII, and in UTF-8 (valid or
    * not: the JDK decoder never folds an ASCII byte into a malformed
    * sequence) an ASCII byte always decodes to itself, so the header
    * groups can be found on raw bytes. Each regex quantifier is followed
    * by a character its class excludes, so none of them backtracks and
    * each group is the maximal run. `.` also excludes the non-ASCII line
    * terminators U+0085 (C2 85), U+2028 (E2 80 A8) and U+2029
    * (E2 80 A9); their lead bytes never continue another sequence, so
    * these byte patterns are exactly those characters.
    */
  private def scan(base: AnyRef, off: Long, n: Int, cut: Array[Int]): Boolean = {
    @inline def at(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    // the length in bytes of the line terminator starting at i, else 0
    @inline def terminator(i: Int): Int = {
      val c = at(i)
      if (c == '\n' || c == '\r') 1
      else if (c == 0xC2) { if (i + 1 < n && at(i + 1) == 0x85) 2 else 0 }
      else if (c == 0xE2) { if (i + 2 < n && at(i + 1) == 0x80 && (at(i + 2) | 1) == 0xA9) 3 else 0 }
      else 0
    }
    // `<(\d{1,3})>`
    if (n == 0 || at(0) != '<') return false
    var i = 1
    while (i < 4 && i < n && isDigit(at(i))) i += 1
    if (i == 1 || i >= n || at(i) != '>') return false
    val priEnd = i
    // `(\S+) (\S+) `
    val timeStart = priEnd + 1
    i = timeStart
    while (i < n && !isSpace(at(i))) i += 1
    if (i == timeStart || i >= n || at(i) != ' ') return false
    val timeEnd = i
    val hostStart = timeEnd + 1
    i = hostStart
    while (i < n && !isSpace(at(i))) i += 1
    if (i == hostStart || i >= n || at(i) != ' ') return false
    val hostEnd = i
    // `([^:\[\s]+)`
    val progStart = hostEnd + 1
    i = progStart
    while (i < n && { val c = at(i); c != ':' && c != '[' && !isSpace(c) }) i += 1
    if (i == progStart) return false
    val progEnd = i
    // `(?:\[(\d+)\])?`: when the bracket does not close a digit run the
    // group is skipped, and the ':' test below then fails on the '['
    var pidStart = progEnd
    var pidEnd = progEnd
    if (i < n && at(i) == '[') {
      var j = i + 1
      while (j < n && isDigit(at(j))) j += 1
      if (j > i + 1 && j < n && at(j) == ']') { pidStart = i + 1; pidEnd = j; i = j + 1 }
    }
    // `: (.*)$`: content runs to the first line terminator, and `$`
    // allows only one terminator (or "\r\n") after it
    if (i + 1 >= n || at(i) != ':' || at(i + 1) != ' ') return false
    val contentStart = i + 2
    i = contentStart
    var t = 0
    while (i < n && { t = terminator(i); t == 0 }) i += 1
    val ok = i == n || i + t == n || (i + 2 == n && at(i) == '\r' && at(i + 1) == '\n')
    if (ok && cut != null) {
      cut(0) = 1; cut(1) = priEnd
      cut(2) = timeStart; cut(3) = timeEnd
      cut(4) = hostStart; cut(5) = hostEnd
      cut(6) = progStart; cut(7) = progEnd
      cut(8) = pidStart; cut(9) = pidEnd
      cut(10) = contentStart; cut(11) = i
    }
    ok
  }

  /** eval for [[SyslogValidK]]: the grammar test on the raw bytes;
    * allocates nothing. */
  def isSyslogEval(s: UTF8String): Boolean =
    scan(s.getBaseObject, s.getBaseOffset, s.numBytes, null)

  /** eval for [[SyslogParsesK]]: the grammar test, then the cast's own
    * parse of the time token, sliced from the raw bytes in place. Every
    * character a timestamp accepts is ASCII, so a token with a non-ASCII
    * byte fails the cast both raw and as the decoded group `parse`
    * casts: the raw slice decides as the group would. */
  def parsesEval(s: UTF8String, zone: ZoneId): Boolean = {
    val cut = new Array[Int](12)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    scan(base, off, s.numBytes, cut) &&
      DateTimeUtils.stringToTimestamp(UTF8String.fromAddress(base, off + cut(2), cut(3) - cut(2)), zone).isDefined
  }

  /** eval for [[SyslogScanK]]: the six groups, or null when the line
    * does not match. A line with any non-ASCII byte is first
    * re-encoded from its decoded form, so invalid UTF-8 reaches the
    * groups as U+FFFD, exactly as the regex sees it; ASCII lines are
    * sliced in place.
    */
  def groupsEval(s: UTF8String): InternalRow = {
    val bytes = if (s.isFullAscii) s.getBytes else s.toString.getBytes(StandardCharsets.UTF_8)
    val cut = new Array[Int](12)
    if (!scan(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, cut)) return null
    val out = new Array[Any](6)
    var g = 0
    while (g < 6) {
      out(g) = UTF8String.fromBytes(bytes, cut(2 * g), cut(2 * g + 1) - cut(2 * g))
      g += 1
    }
    new GenericInternalRow(out)
  }
}

/** `value`, or null when `guard` is null. Unlike `when(guard.isNotNull,
  * value)` this is not a conditional expression, so subexpression
  * elimination sees a `guard` that `value` also reads as one common
  * subexpression, and evaluates it once per row. */
case class NullUnlessK(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = right.dataType
  override def nullSafeEval(guard: Any, value: Any): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (_, value) => value)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NullUnlessK =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_null_unless"
}

case class SyslogValidK(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any = Syslog.isSyslogEval(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Syslog.isSyslogEval($c)")
  override protected def withNewChildInternal(newChild: Expression): SyslogValidK = copy(child = newChild)
  override def prettyName: String = "graft_is_syslog"
}

/** [[SyslogValidK]] plus the time token's cast, in the session time
  * zone the cast in `Syslog.parse` uses. */
case class SyslogParsesK(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  override def dataType: DataType = BooleanType
  override def withTimeZone(id: String): TimeZoneAwareExpression = copy(timeZoneId = Option(id))
  @transient private lazy val zone = zoneId
  override def nullSafeEval(input: Any): Any = Syslog.parsesEval(input.asInstanceOf[UTF8String], zone)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val z = ctx.addReferenceObj("zoneId", zone, classOf[ZoneId].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.Syslog.parsesEval($c, $z)")
  }
  override protected def withNewChildInternal(newChild: Expression): SyslogParsesK = copy(child = newChild)
  override def prettyName: String = "graft_syslog_parses"
}

case class SyslogScanK(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    StructType(Syslog.GroupNames.map(StructField(_, StringType, nullable = false)))
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = Syslog.groupsEval(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Syslog.groupsEval($c);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): SyslogScanK = copy(child = newChild)
  override def prettyName: String = "graft_syslog_groups"
}
