package graft.functions

import java.util.Locale

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: `url_norm(url)` →
  * `struct<url_norm: string, host: string, registered_domain: string>`
  * — crawl-pipeline URL canonicalization, the key every web-scale
  * dedup/profiling stage groups by BEFORE touching content (reference
  * pipelines dedup by registered domain first; nothing in the engine
  * handled URLs until round 11).
  *
  * Normalization contract (pure deterministic string surgery — no
  * java.net.URI, whose parser rejects real crawl URLs and varies by
  * JDK in what it accepts):
  *  - scheme and host (authority after userinfo) lowercase; path and
  *    query keep their case;
  *  - the fragment (`#...`) is dropped;
  *  - default ports drop (`:80` iff http, `:443` iff https; any other
  *    scheme/port combination is kept verbatim);
  *  - tracking params drop from the query string, preserving the
  *    order of survivors: keys `utm_*`, `gclid`, `fbclid`, `ref`
  *    (case-insensitive key match); an emptied query drops its `?`;
  *  - a bare-root path `/` drops (so `http://a.com/` ≡ `http://a.com`;
  *    deeper trailing slashes are preserved — directory vs resource is
  *    a real distinction);
  *  - `registered_domain` is the public-suffix-FREE heuristic (no PSL
  *    shipped here, by design): last two host labels, or last THREE
  *    when the TLD is 2 chars and the second-level label is one of
  *    the common country-code second levels (co/com/net/org/gov/ac/
  *    edu — covers co.uk, com.au, ac.jp, gov.in, …). Hosts with one
  *    label (intranet names, IPs are out of scope) return themselves.
  *
  * Malformed input (no `://`, empty scheme/host, scheme with
  * characters outside RFC 3986's `ALPHA *(ALPHA/DIGIT/+/-/.)`) yields
  * NULL — the skip-don't-crash discipline; count them with
  * `url_norm IS NULL` downstream. Null input is null. */
case class UrlNorm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = UrlNorm.schema

  override def nullable: Boolean = true

  override def prettyName: String = "url_norm"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"url_norm requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    UrlNorm.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.UrlNorm.compute($c);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): UrlNorm =
    copy(child = newChild)
}

object UrlNorm {

  val schema: StructType = StructType(Seq(
    StructField("url_norm", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("registered_domain", StringType, nullable = false)))

  /** Common country-code second-level labels — the 2-char-TLD branch
    * of the registered-domain heuristic. */
  private val SecondLevels =
    Set("co", "com", "net", "org", "gov", "ac", "edu")

  private def isTrackingKey(k: String): Boolean = {
    val lk = k.toLowerCase(Locale.ROOT)
    lk.startsWith("utm_") || lk == "gclid" || lk == "fbclid" || lk == "ref"
  }

  private def validScheme(s: String): Boolean =
    s.nonEmpty && s.charAt(0).isLetter && s.forall(c =>
      c.isLetterOrDigit || c == '+' || c == '-' || c == '.')

  def compute(u: UTF8String): InternalRow = {
    val s0 = u.toString.trim
    val si = s0.indexOf("://")
    if (si <= 0) return null
    val scheme = s0.substring(0, si).toLowerCase(Locale.ROOT)
    if (!validScheme(scheme)) return null
    var rest = s0.substring(si + 3)
    val hashAt = rest.indexOf('#')
    if (hashAt >= 0) rest = rest.substring(0, hashAt)
    // authority ends at the first '/' or '?'
    val slash = rest.indexOf('/')
    val qm = rest.indexOf('?')
    val aEnd =
      if (slash >= 0 && (qm < 0 || slash < qm)) slash
      else if (qm >= 0) qm
      else rest.length
    var auth = rest.substring(0, aEnd)
    val tail = rest.substring(aEnd)
    val at = auth.lastIndexOf('@')
    if (at >= 0) auth = auth.substring(at + 1)
    auth = auth.toLowerCase(Locale.ROOT)
    val colonAt = auth.lastIndexOf(':')
    val portDigits = colonAt >= 0 && colonAt < auth.length - 1 &&
      auth.substring(colonAt + 1).forall(_.isDigit)
    val host = if (portDigits) auth.substring(0, colonAt) else auth
    val port = if (portDigits) auth.substring(colonAt + 1) else ""
    if (host.isEmpty) return null
    val keepPort = port.nonEmpty &&
      !((scheme == "http" && port == "80") ||
        (scheme == "https" && port == "443"))
    // split tail into path / query
    var path = ""
    var query = ""
    if (tail.startsWith("/")) {
      val tq = tail.indexOf('?')
      if (tq >= 0) { path = tail.substring(0, tq); query = tail.substring(tq + 1) }
      else path = tail
    } else if (tail.startsWith("?")) {
      query = tail.substring(1)
    }
    if (path == "/") path = ""
    val kept = query.split("&", -1).iterator
      .filter(_.nonEmpty)
      .filterNot(p => isTrackingKey(p.takeWhile(_ != '=')))
      .mkString("&")
    val sb = new java.lang.StringBuilder(scheme).append("://").append(host)
    if (keepPort) sb.append(':').append(port)
    sb.append(path)
    if (kept.nonEmpty) sb.append('?').append(kept)
    val labels = host.split('.')
    val rd =
      if (labels.length >= 3 && labels(labels.length - 1).length == 2 &&
          SecondLevels(labels(labels.length - 2)))
        labels.takeRight(3).mkString(".")
      else if (labels.length >= 2) labels.takeRight(2).mkString(".")
      else host
    InternalRow(UTF8String.fromString(sb.toString),
      UTF8String.fromString(host), UTF8String.fromString(rd))
  }
}
