package graft.functions

import java.net.URI

/** URL scalar functions (SURVEY.md §2.8; reference utils.ts:17-108). */
object UrlUtils {

  /** origin + pathname (strip query + fragment); input returned verbatim
    * when unparseable (reference behavior). */
  def getUrlPrefix(url: String): String =
    try {
      val u = new URI(url)
      val port = if (u.getPort >= 0) s":${u.getPort}" else ""
      s"${u.getScheme}://${u.getHost}$port${Option(u.getPath).getOrElse("")}"
    } catch { case _: Exception => url }

  /** Strip fragment and query. */
  def normalizeUrl(url: String): String = {
    val noHash = url.indexOf('#') match {
      case -1 => url
      case i  => url.substring(0, i)
    }
    noHash.indexOf('?') match {
      case -1 => noHash
      case i  => noHash.substring(0, i)
    }
  }

  /** Resolve a possibly-relative href against a base URL. */
  def buildUrl(href: String, base: String): String =
    try new URI(base).resolve(href).toString
    catch { case _: Exception => href }

  /** Crawl-eligibility check (reference utils.ts:48-69): .html/.htm/.pdf,
    * directory URLs, or extension-less paths. Extension matching is
    * case-INsensitive (the reference lowercases `path.extname` —
    * `INDEX.HTML`/`doc.PDF` must crawl, not silently skip). */
  def shouldProcessUrl(url: String): Boolean = {
    val path = normalizeUrl(url)
    val last = path.substring(path.lastIndexOf('/') + 1).toLowerCase
    last.isEmpty || !last.contains('.') ||
      last.endsWith(".html") || last.endsWith(".htm") || last.endsWith(".pdf")
  }

  def isPdfUrl(url: String): Boolean =
    normalizeUrl(url).toLowerCase.endsWith(".pdf")

  /** RFC 5988 Link-header rel=next extraction (utils.ts:92-108). */
  def parseNextLink(linkHeader: String): Option[String] = {
    if (linkHeader == null) return None
    val re = """<([^>]+)>\s*;\s*rel\s*=\s*"?next"?""".r
    linkHeader.split(',').iterator
      .flatMap(part => re.findFirstMatchIn(part).map(_.group(1).trim))
      .nextOption()
  }

  /** Retry-After header → delay in milliseconds (reference
    * parseRetryAfter, content-processor.ts:1274-1291): numeric seconds
    * first, then an HTTP-date relative to `nowMs`; both floor at
    * 1000 ms; None when missing or unparseable. `nowMs` is a parameter
    * (not a clock read) so the scalar stays deterministic. */
  def parseRetryAfter(headerValue: String,
      nowMs: Long = 0L): Option[Long] = {
    if (headerValue == null || headerValue.isEmpty) return None
    val trimmed = headerValue.trim
    val asSeconds = trimmed.toDoubleOption
    if (asSeconds.exists(d => !d.isNaN && !d.isInfinite))
      return Some(math.max(1000L, math.round(asSeconds.get * 1000)))
    try {
      val date = java.time.ZonedDateTime.parse(trimmed,
        java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
      Some(math.max(1000L, date.toInstant.toEpochMilli - nowMs))
    } catch { case _: java.time.format.DateTimeParseException => None }
  }
}
