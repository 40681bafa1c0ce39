package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Web-crawl cleanup primitives: HTML → text extraction and URL
  * canonicalization. Both are chains of row-local regex/replace steps —
  * codegen'd, zero shuffle, and kept to the regex subset Java and RE2
  * agree on (`(?is)` flags, lazy `.*?`, char classes), so an external
  * SQL engine can replay every step literally.
  *
  * These are the crawl-side front of the curation stack: strip markup
  * BEFORE quality/dedup (tag soup inflates length stats and defeats
  * shingle dedup), canonicalize URLs BEFORE URL-level dedup (tracking
  * params split one page into many "distinct" URLs).
  */
object Web {

  /** Markup → text: drop script/style/comment blocks wholesale, then
    * tags, then decode the six common entities, then collapse
    * whitespace. Order matters and is part of the contract (a tag
    * inside a script body must go with the script). */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(coalesce(html, lit("")),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    // &amp; decodes LAST so double-encoded text ("&amp;lt;") resolves
    // one level per pass, not two
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (from, to)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(from), to)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  private val Trackers = "(utm_[a-zA-Z0-9_]+|fbclid|gclid|msclkid|ref)"

  /** Canonical URL: lowercase the scheme://host prefix, drop the
    * fragment, remove tracking parameters (utm_*, fbclid, gclid,
    * msclkid, ref) wherever they sit in the query string, and drop a
    * dangling `?`. Path case and non-tracking params are preserved. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(coalesce(url, lit("")), "#.*$", "")
    // lowercase scheme+host only: split at the first '/', '?' after '//'
    val prefix = regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    val rest = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "")
    val lowered = concat(lower(prefix), rest)
    // tracking params: mid-list (&x=v), first-but-not-last (?x=v&ditch
    // one), or only (?x=v$)
    val noMid = regexp_replace(lowered, s"&$Trackers=[^&#]*", "")
    val noFirst = regexp_replace(noMid, s"\\?$Trackers=[^&#]*&", "?")
    val noOnly = regexp_replace(noFirst, s"\\?$Trackers=[^&#]*$$", "")
    regexp_replace(noOnly, "\\?$", "")
  }
}
