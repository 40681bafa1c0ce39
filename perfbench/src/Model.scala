package perfbench

import graft.mask.MaskConfig
import java.security.MessageDigest
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** The reference computation the landed table is checked against,
  * written without the program: last-writer-wins over the generated
  * events (by offset; deletes remove the key), Debezium value rendering,
  * and the mask rules recomputed with salted SHA-1 in plain Scala. */
object Model {

  /** Last writer per key (with its schema version) over the first
    * `until` messages of each event slice, applied in order. */
  def lastWriterWins(slices: Seq[(Events, Int)]): Map[Int, (Cust, Int)] = {
    val m = mutable.HashMap.empty[Int, (Cust, Int)]
    for ((ev, until) <- slices; i <- 0 until until) ev.kinds(i) match {
      case Gen.Create | Gen.Update => m(ev.ids(i)) = (ev.rows(i), ev.versions(i).toInt)
      case Gen.Delete => m.remove(ev.ids(i))
      case _ =>
    }
    m.toMap
  }

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  /** Column values after the Debezium transform (strings; NULL for null
    * or whitespace-only). `v2` adds `loyalty_tier`. */
  def transformed(c: Cust, v2: Boolean): Seq[(String, String)] = {
    def s(x: Any): String = x match {
      case null => null
      case str: String => if (str.trim.isEmpty) null else str
      case other => other.toString
    }
    val ts = Option(c.createdAt).map { us =>
      val sec = Math.floorDiv(us.longValue, 1000000L)
      val frac = Math.floorMod(us.longValue, 1000000L)
      TsFmt.format(Instant.ofEpochSecond(sec)) + "." + "%06d".format(frac)
    }.orNull
    Seq("id" -> s(c.id), "first_name" -> s(c.firstName),
      "last_name" -> s(c.lastName), "email" -> s(c.email),
      "mobile_number" -> s(c.mobile),
      "dob" -> Option(c.dob).map(d => LocalDate.ofEpochDay(d.longValue).toString).orNull,
      "score" -> s(c.score), "created_at" -> ts, "active" -> s(c.active),
      "favourite_quote" -> s(c.quote)) ++
      (if (v2) Seq("loyalty_tier" -> s(c.tier)) else Nil)
  }

  private val Hex = "0123456789abcdef".toCharArray
  private val sha1 = MessageDigest.getInstance("SHA-1")

  private def sha1Hex(v: String, salt: String): String = {
    val d = sha1.digest((v + salt).getBytes("UTF-8"))
    val out = new Array[Char](d.length * 2)
    for (i <- d.indices) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
    }
    new String(out)
  }

  private val regexes = mutable.HashMap.empty[String, scala.util.matching.Regex]
  private def likeRegex(p: String) =
    regexes.getOrElseUpdate("like:" + p, MaskConfig.likeToRegex(p).r)
  private def caseless(p: String) = regexes.getOrElseUpdate("ci:" + p, ("(?i)" + p).r)

  /** The landed row for one transformed source row under `cfg` for
    * `table`: masked base columns, then the derived key columns. */
  def masked(row: Seq[(String, String)], cfg: MaskConfig, table: String,
      salt: String): Map[String, String] = {
    val vals = row.toMap
    val tableUnmasked = cfg.hasMappingPiiKey(table)
    val base = row.map { case (n, v) =>
      val unmask = tableUnmasked || cfg.nonPii(table, n) ||
        cfg.conditionalPatterns(table, n).exists(p =>
          v != null && likeRegex(p).findFirstIn(v).isDefined) ||
        cfg.dependentProviders(table, n).exists { case (prov, allowed) =>
          vals.get(prov).exists(pv => pv != null && allowed.contains(pv)) }
      n -> (if (v == null) null else if (unmask) v else sha1Hex(v, salt))
    }
    val extras = row.flatMap { case (n, v) =>
      (if (cfg.lengthKey(table, n))
        Seq(s"${n}_length" -> (if (v == null) 0 else v.getBytes("UTF-8").length).toString)
      else Nil) ++
      (if (cfg.mobileKey(table, n))
        Seq(s"${n}_init5" -> (if (v == null) null else v.take(graft.mask.Masker.MobileExposedLength)))
      else Nil) ++
      (if (cfg.mappingPiiKey(table, n))
        Seq(s"hashed_$n" -> (if (v == null) null else sha1Hex(v, salt)))
      else Nil) ++
      cfg.regexBoolPatterns(table, n).toSeq.map { case (name, pat) =>
        s"${n}_$name" -> (v != null && caseless(pat).findFirstIn(v).isDefined).toString
      }
    }
    (base ++ extras).toMap
  }

  /** Outcome of one table check. */
  final case class Check(rowsChecked: Long, mismatches: Long, notes: Seq[String])

  /** Compare a landed table with the model: same key set, every column
    * equal. `v2Columns` says whether the table has `loyalty_tier` (rows
    * last written before the migration read NULL there). */
  def check(landed: DataFrame, expected: Map[Int, (Cust, Int)], cfg: MaskConfig,
      table: String, salt: String, v2Columns: Boolean): Check = {
    val want = expected.map { case (id, (c, ver)) =>
      val t = transformed(c, ver == Gen.V2)
      val full = if (v2Columns && ver != Gen.V2) t :+ ("loyalty_tier" -> null) else t
      id -> masked(full, cfg, table, salt)
    }
    val wantCols = want.headOption.map(_._2.keySet).getOrElse(Set.empty)
    val notes = mutable.ArrayBuffer.empty[String]
    val gotCols = landed.columns.toSet
    if (want.nonEmpty && gotCols != wantCols)
      notes += s"columns differ: missing=${(wantCols -- gotCols).toSeq.sorted} " +
        s"extra=${(gotCols -- wantCols).toSeq.sorted}"
    val cols = gotCols.toSeq.sorted
    val got = landed.select(cols.map(c => col(c).cast("string")): _*).collect()
    val idIdx = cols.indexOf("id")
    var bad = 0L
    val seen = mutable.HashSet.empty[Int]
    for (r <- got) {
      val id = r.getString(idIdx).toInt
      val ok = seen.add(id) && want.get(id).exists(w =>
        cols.indices.forall(i => w.get(cols(i)).contains(r.getString(i))))
      if (!ok) {
        if (bad < 3) notes += s"row id=$id: got ${cols.zip(r.toSeq).toMap} want ${want.get(id)}"
        bad += 1
      }
    }
    val missing = want.keySet.count(id => !seen.contains(id))
    if (missing > 0) notes += s"$missing keys missing from the table"
    Check(math.max(got.length, want.size).toLong, bad + missing +
      (if (notes.exists(_.startsWith("columns"))) 1 else 0), notes.toSeq)
  }
}
