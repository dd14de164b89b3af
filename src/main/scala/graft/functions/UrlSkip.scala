package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Skip-list evaluation of the `skip_url` kernel (interpreted and
  * codegen paths call the same static method, so they cannot diverge).
  *
  * The literal lists mirror the reference's skip config verbatim
  * (crawler-queue.sh:204-216) and are the evaluated twin of the regex
  * SPEC in `graft.etl.Urls.SkipExtPattern`/`SkipPathPattern` (which the
  * DuckDB oracle executes): extensions are case-sensitive suffixes,
  * patterns are case-insensitive substrings. UrlsSpec pins the
  * semantics; oracle hash-equality at three SFs proves the regex ↔
  * literal-scan equivalence every round.
  */
object UrlSkipUtil {
  private val exts: Array[UTF8String] = Array(
    ".pdf", ".zip", ".exe", ".mp4", ".mp3", ".wav", ".avi", ".mov",
    ".png", ".jpg", ".jpeg", ".gif", ".svg", ".ico", ".css", ".js",
    ".woff", ".woff2", ".ttf", ".eot").map(UTF8String.fromString)
  private val subs: Array[UTF8String] = Array(
    "login", "logout", "signup", "signin", "register", "cart",
    "checkout", "payment", "download",
    "/static/", "/assets/", "/images/", "/fonts/").map(UTF8String.fromString)

  def skip(url: UTF8String): Boolean = {
    var i = 0
    while (i < exts.length) {
      if (url.endsWith(exts(i))) return true
      i += 1
    }
    val low = url.toLowerCase
    var j = 0
    while (j < subs.length) {
      if (low.contains(subs(j))) return true
      j += 1
    }
    false
  }
}

object UrlFunctions {
  /** F1 skip predicate (crawler-queue.sh:199-218).
    *
    * Why a kernel and not a Column predicate chain: a chain of 33
    * EndsWith/Contains over a COMPUTED url column gets the url expression
    * inlined into every predicate when Catalyst pushes the filter into a
    * join condition (no subexpression elimination there) — measured 10×
    * slower because the concat + two regexp_replaces re-ran 33 times per
    * row. As one call node the url is its one child, evaluated exactly
    * once wherever the predicate lands.
    */
  private val Skip = Kernel("skip_url", UrlSkipUtil.getClass, "skip",
    Seq(StringType), BooleanType, usage = Some(
      "skip_url(url) - true iff the reference skip lists match"))

  val kernels: Seq[Kernel] = Seq(Skip)

  /** Column API: true iff the url matches the reference skip lists. */
  def skipUrl(url: Column): Column = Skip(url)()
}
