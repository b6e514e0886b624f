package graft.text

import HtmlDom.{Elem, Text}

/** Page-level METADATA + OUTLINK extraction over a parsed DOM — the other
  * half of what an extraction tier pulls from a crawled page besides the
  * main content: `<title>`, `<html lang>`, the description meta, the
  * canonical link, and every anchor in document order (the crawl
  * FRONTIER feed). All lookups are first-match in document order and
  * return "" when absent — metadata is optional on real pages, unlike
  * main content (where an empty result is an extraction failure).
  */
object PageMeta {

  /** One outlink: href, flattened anchor text, `rel` attribute ("" when
    * absent).
    */
  final case class Link(href: String, anchor: String, rel: String) {
    /** `rel` is an ASCII-case-insensitive, whitespace-separated TOKEN SET
      * per HTML — `rel="NOFOLLOW"` and `rel="external\tnofollow"` both opt
      * out; a case-sensitive space-only split would leak those links into
      * the crawl frontier and fetch pages the site opted out of.
      */
    def noFollow: Boolean =
      rel.split("\\s+").exists(_.equalsIgnoreCase("nofollow"))
  }

  final case class Meta(
      title: String,
      lang: String,
      description: String,
      canonical: String,
      links: Vector[Link])

  private def flatText(e: Elem): String = {
    val sb = new java.lang.StringBuilder
    def walk(x: Elem): Unit = x.children.foreach {
      case Text(d) => sb.append(d)
      case c: Elem => walk(c)
    }
    walk(e)
    sb.toString.trim
  }

  def of(root: Elem): Meta = {
    var title = ""
    var titleSeen = false
    var lang = ""
    var langSeen = false
    var description = ""
    var descSeen = false
    var canonical = ""
    var canonSeen = false
    val links = Vector.newBuilder[Link]
    def walk(e: Elem): Unit = {
      e.tag match {
        case "title" if !titleSeen => titleSeen = true; title = flatText(e)
        case "html" if !langSeen =>
          e.attr("lang").foreach { v => langSeen = true; lang = v }
        case "meta" if !descSeen &&
            // name is ASCII-case-insensitive per HTML (<meta name="Description">)
            e.attr("name").exists(_.equalsIgnoreCase("description")) =>
          descSeen = true; description = e.attr("content").getOrElse("")
        case "link" if !canonSeen &&
            // rel is a space-separated TOKEN SET per HTML, not a scalar —
            // rel="canonical alternate" must still match (the ingest job
            // already treats Link.rel as tokens for nofollow)
            e.attr("rel").exists(_.split("\\s+").exists(_.equalsIgnoreCase("canonical"))) =>
          canonSeen = true; canonical = e.attr("href").getOrElse("")
        case "a" =>
          e.attr("href").foreach { h =>
            links += Link(h, flatText(e), e.attr("rel").getOrElse(""))
          }
        case _ => ()
      }
      e.children.foreach { case c: Elem => walk(c); case _ => () }
    }
    walk(root)
    Meta(title, lang, description, canonical, links.result())
  }

  /** Parse + extract in one step (lenient: metadata extraction is a crawl
    * path concern, and crawled pages are sloppy).
    */
  def ofHtml(html: String): Meta = of(HtmlDom.parse(html, lenient = true))
}
