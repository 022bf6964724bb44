package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Browser family, OS family and bot flag of a raw User-Agent string as one
  * non-null `struct<browser, os, bot>`: the major-family subset of the
  * `user-agents` library the reference uses (advanced_elb_logs_etl.py:123-131)
  * as ordered case-insensitive `find` rules, first match wins. Surrounding
  * quotes are stripped; a null, `""` or `"-"` UA is Unknown/Unknown/false.
  * Logs repeat a few UAs over millions of rows, so the rules run once per
  * distinct UA per task, through a [[UaMemo]] held by the generated class
  * (codegen) or by this instance (`eval`). */
case class UaClassify(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = UaClassify.schema
  override def nullable: Boolean = false
  override def prettyName: String = "ua_classify"
  override def inputTypes = Seq(StringType)
  @transient private lazy val memo = new UaMemo

  // the interpreted path may share one instance across driver threads
  override def eval(input: InternalRow): Any =
    memo.synchronized(memo(child.eval(input).asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val memoClass = classOf[UaMemo].getName
    val memo = ctx.addMutableState(memoClass, "uaMemo", v => s"$v = new $memoClass();")
    val in = child.genCode(ctx)
    ev.copy(code = code"""${in.code}
      InternalRow ${ev.value} = $memo.apply(${in.isNull} ? null : ${in.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UaClassify {
  val schema: StructType = new StructType().add("browser", StringType, nullable = false)
    .add("os", StringType, nullable = false).add("bot", BooleanType, nullable = false)

  /** Distinct UAs one memo holds before it starts over. */
  val MemoCap = 4096
  private def rules(table: (String, String)*): Seq[(Pattern, String)] =
    table.map { case (p, family) => Pattern.compile("(?i)" + p) -> family }
  /** Both patterns find, anywhere in the string. */
  private def both(a: String, b: String): String = s"^(?=(?s:.*)(?:$a))(?=(?s:.*)(?:$b))"

  // named crawlers go first: they often embed browser tokens
  private val namedBots = rules("googlebot" -> "Googlebot", "bingbot" -> "bingbot",
    "duckduckbot" -> "DuckDuckBot", "yandex(bot)?" -> "YandexBot", "baiduspider" -> "Baiduspider",
    "slurp" -> "Yahoo! Slurp", "facebookexternalhit" -> "FacebookBot")

  // the crawler long tail (AhrefsBot, Bytespider, ...) is named by its token.
  // A crawler declares "(compatible; ...)" or a +http URL, or has no browser
  // engine token: device models ending in "bot" (Cubot phones) are not crawlers
  private val botToken = Pattern.compile("\\b([A-Za-z0-9_.-]*(?:[Bb]ot|[Ss]pider))\\b")
  private val crawlerContext = Pattern.compile("(?i)compatible[;)]|\\+http")
  private val browserEngine = Pattern.compile("(?i)\\bchrome/|\\bsafari/|\\bfirefox/|\\bedge?/")

  // most specific first: Edge/Opera/Samsung UAs carry "Chrome", Chrome UAs "Safari"
  private val browsers = rules("python-urllib" -> "Python-urllib",
    "python-requests" -> "Python Requests", "\\bcurl/" -> "curl", "\\bwget/" -> "Wget",
    "apache-httpclient" -> "Apache-HttpClient", "\\bokhttp" -> "okhttp", "^java/" -> "Java",
    "go-http-client" -> "Go-http-client", "\\blynx/" -> "Lynx", "\\bw3m/" -> "w3m",
    "^links\\b" -> "Links", "headlesschrome" -> "HeadlessChrome", "phantomjs" -> "PhantomJS",
    "\\belectron/" -> "Electron", "whatsapp" -> "WhatsApp", "\\bfbav/|\\bfban/" -> "Facebook",
    "\\binstagram[ /]" -> "Instagram", "\\bgsa/" -> "Google", "\\bsnapchat/" -> "Snapchat",
    "twitter for " -> "Twitter", "\\bline/\\d" -> "Line", "thunderbird/" -> "Thunderbird",
    "microsoft outlook" -> "Outlook",
    // before every engine rule: WP8.1 "like iPhone" UAs carry AppleWebKit/Safari
    "iemobile" -> "IE Mobile",
    // uap-core's 'Edge Mobile': EdgA (Android), EdgiOS, Windows Phone's Edge + Mobile
    "\\bedga/|\\bedgios/" -> "Edge Mobile", both("\\bedge?/", "\\bmobile\\b") -> "Edge Mobile",
    "\\bedge?/" -> "Edge", "opera mini" -> "Opera Mini", "\\bopt/\\d" -> "Opera Touch",
    both("\\bopr/", "\\bmobile\\b") -> "Opera Mobile", "\\bopr/|\\bopera" -> "Opera",
    "\\bmiuibrowser/" -> "MiuiBrowser", "\\bsamsungbrowser/" -> "Samsung Internet",
    "\\bucbrowser/" -> "UC Browser", "\\byabrowser/" -> "Yandex Browser",
    "\\bvivaldi/" -> "Vivaldi", "\\bbrave/" -> "Brave", "\\bsilk/" -> "Amazon Silk",
    "\\bqqbrowser/|\\bmqqbrowser/" -> "QQ Browser", "\\bhuaweibrowser/" -> "Huawei Browser",
    "\\bwhale/" -> "Whale", "\\bpuffin/" -> "Puffin", "\\bmaxthon" -> "Maxthon",
    "duckduckgo/" -> "DuckDuckGo Mobile", "coc_coc_browser/" -> "Coc Coc",
    "sailfishbrowser/" -> "Sailfish Browser", "konqueror" -> "Konqueror", "epiphany/" -> "Epiphany",
    // Android system WebView: "; wv)" marker + Chrome token
    both(";\\s?wv\\)", "\\bchrome/") -> "Chrome Mobile WebView", "\\bseamonkey/" -> "SeaMonkey",
    "\\bpalemoon/" -> "Pale Moon", "\\bwaterfox/" -> "Waterfox", "\\bfocus/\\d" -> "Firefox Focus",
    "\\bfxios/" -> "Firefox iOS", both("\\bfirefox/", "mobile") -> "Firefox Mobile",
    "\\bfirefox/" -> "Firefox", "\\bcrios/" -> "Chrome Mobile iOS", "\\bchromium/" -> "Chromium",
    both("\\bchrome/", "\\bmobile\\b") -> "Chrome Mobile", "\\bchrome/" -> "Chrome",
    // before Safari: BB OS/BB10 UAs carry WebKit + Safari tokens
    "blackberry|\\bbb10\\b" -> "BlackBerry WebKit",
    "\\bversion/.*\\bmobile/.*safari/" -> "Mobile Safari", "\\bsafari/" -> "Safari",
    "msie |trident/" -> "IE")

  // KaiOS before iOS ("KAIOS" contains "ios"), and \b on the bare iOS token
  // ("axios", "BIOS"); LG TVs spell webOS Web0S, both before Linux
  private val systems = rules("windows phone" -> "Windows Phone", "kaios" -> "KaiOS",
    "tizen" -> "Tizen", "symbianos|symbos|series60" -> "Symbian OS",
    "blackberry|\\bbb10\\b" -> "BlackBerry OS", "windows nt|win64|wow64" -> "Windows",
    "android" -> "Android", "iphone|ipad|ipod|\\bios\\b" -> "iOS",
    "mac os x|macintosh" -> "Mac OS X", "cros " -> "Chrome OS", "ubuntu" -> "Ubuntu",
    "fedora" -> "Fedora", "web0s|\\bwebos\\b" -> "webOS", "openbsd" -> "OpenBSD",
    "netbsd" -> "NetBSD", "sunos" -> "Solaris", "linux" -> "Linux", "freebsd" -> "FreeBSD")

  /** The reference's bot tokens (advanced_elb_logs_etl.py:128): Yahoo! Slurp is not one. */
  private val bot = Pattern.compile("(?i)bot|spider|crawler|python-urllib")
  private val quotes = Pattern.compile("^\"+|\"+$")

  private def row(browser: String, os: String, isBot: Boolean): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(browser),
      UTF8String.fromString(os), isBot))
  val unknown: InternalRow = row("Unknown", "Unknown", false)
  private def first(table: Seq[(Pattern, String)], ua: String): Option[String] =
    table.collectFirst { case (p, family) if p.matcher(ua).find() => family }

  private def crawler(ua: String): Option[String] = {
    val m = botToken.matcher(ua)
    Option.when(m.find() && (crawlerContext.matcher(ua).find() ||
      !browserEngine.matcher(ua).find()))(m.group(1))
  }

  /** The rule tables' answer for one raw UA, without a memo. */
  def classify(raw: String): InternalRow = {
    val ua = quotes.matcher(raw).replaceAll("")
    if (ua.isEmpty || ua == "-") unknown
    else row(first(namedBots, ua).orElse(crawler(ua)).orElse(first(browsers, ua))
      .getOrElse("Other"), first(systems, ua).getOrElse("Other"), bot.matcher(ua).find())
  }
}

/** One task's [[UaClassify.classify]] answers by raw UA bytes; it starts
  * over once it holds [[UaClassify.MemoCap]] of them. Not thread-safe. */
final class UaMemo {
  private val seen = new java.util.HashMap[UTF8String, InternalRow]()
  def apply(ua: UTF8String): InternalRow =
    if (ua == null) UaClassify.unknown
    else {
      var answer = seen.get(ua)
      if (answer == null) {
        if (seen.size >= UaClassify.MemoCap) seen.clear()
        answer = UaClassify.classify(ua.toString)
        seen.put(ua.copy(), answer) // a copy: the input may view a reused row buffer
      }
      answer
    }
}
