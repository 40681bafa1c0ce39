package perfbench

import java.io.ByteArrayOutputStream
import java.util.SplittableRandom
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}
import scala.collection.mutable

/** One source row of `inventory.customers`, as the upstream database holds
  * it (before any Debezium conversion). Nullable columns use boxed types or
  * null strings; `tier` exists from schema v2 on. */
final case class Cust(
    id: Int,
    firstName: String,
    lastName: String,
    email: String,
    mobile: String,
    dob: java.lang.Integer,
    score: String,
    createdAt: java.lang.Long,
    active: java.lang.Boolean,
    quote: String,
    tier: String)

/** A generated Kafka topic slice: `(offset, key, value)` frames plus what
  * each frame means, for the reference model. Offsets are
  * `firstOffset + index`. */
final class Events(
    val firstOffset: Long,
    val keys: Array[Array[Byte]],
    val values: Array[Array[Byte]],
    val kinds: Array[Byte],
    val ids: Array[Int],
    val rows: Array[Cust],
    val versions: Array[Byte]) {
  def size: Int = keys.length
  def offset(i: Int): Long = firstOffset + i
  def frames(from: Int, until: Int): Seq[(Long, Array[Byte], Array[Byte])] =
    (from until until).map(i => (offset(i), keys(i), values(i)))
  /** Create/update/delete events (what becomes visible in the table). */
  def isData(i: Int): Boolean = kinds(i) <= Gen.Delete
  def bytes(from: Int, until: Int): Long =
    (from until until).iterator.map(i =>
      if (values(i) == null) 0L else values(i).length.toLong).sum
}

/** Seeded generator of Confluent-framed Debezium frames for a wide
  * `inventory.customers` table (FIXTURES.md §1–2 shape: int PK, varchar,
  * nullable, DATE, decimal-as-string, MicroTimestamp and boolean columns).
  * Keys are Avro-framed under their own schema id, every delete is
  * followed by a tombstone, a small share of frames is unframed garbage,
  * and the value schema can move from v1 to v2 (an added column).
  *
  * Everything derives from the seed through one `SplittableRandom`, and
  * Avro binary encoding is canonical, so a seed reproduces the frames
  * byte for byte.
  */
object Gen {
  val Database = "inventory"
  val Table = "customers"
  val Topic = "ts.inventory.customers"

  final val Create: Byte = 0
  final val Update: Byte = 1
  final val Delete: Byte = 2
  final val Tombstone: Byte = 3
  final val Corrupt: Byte = 4

  val KeySchemaId = 100
  val V1 = 1
  val V2 = 2

  private def param(t: String, len: String = "", scale: String = ""): String = {
    val ps = Seq("type" -> t, "length" -> len, "scale" -> scale)
      .filter(_._2.nonEmpty)
      .map { case (k, v) => s""""__debezium.source.column.$k": "$v"""" }
    ps.mkString("\"connect.parameters\": {", ", ", "}")
  }
  private def nullable(name: String, tpe: String): String =
    s"""{"name": "$name", "type": ["null", $tpe], "default": null}"""

  private def valueFields(v2: Boolean): Seq[String] = Seq(
    s"""{"name": "id", "type": {"type": "int", ${param("INT", "11")}}}""",
    s"""{"name": "first_name", "type": {"type": "string", ${param("VARCHAR", "255")}}}""",
    nullable("last_name", s"""{"type": "string", ${param("VARCHAR", "255")}}"""),
    s"""{"name": "email", "type": {"type": "string", ${param("VARCHAR", "255")}}}""",
    nullable("mobile_number", s"""{"type": "string", ${param("VARCHAR", "20")}}"""),
    nullable("dob", s"""{"type": "int", "connect.name": "io.debezium.time.Date", ${param("DATE")}}"""),
    nullable("score", s"""{"type": "string", ${param("DECIMAL", "10", "4")}}"""),
    nullable("created_at", s"""{"type": "long", "connect.name": "io.debezium.time.MicroTimestamp", ${param("DATETIME", "6")}}"""),
    nullable("active", s"""{"type": "boolean", ${param("BOOLEAN")}}"""),
    nullable("favourite_quote", s"""{"type": "string", ${param("VARCHAR", "1100")}}""")
  ) ++ (if (v2) Seq(nullable("loyalty_tier",
    s"""{"type": "string", ${param("VARCHAR", "16")}}""")) else Nil)

  def valueSchemaJson(v2: Boolean): String =
    s"""{"type": "record", "name": "Envelope", "namespace": "$Topic",
       |"fields": [
       |  {"name": "before", "type": ["null", {"type": "record", "name": "Value",
       |    "fields": [${valueFields(v2).mkString(",\n      ")}]}], "default": null},
       |  {"name": "after", "type": ["null", "Value"], "default": null},
       |  {"name": "source", "type": {"type": "record", "name": "Source",
       |    "namespace": "io.debezium.connector.mysql", "fields": [
       |      {"name": "version", "type": "string"},
       |      {"name": "connector", "type": "string"},
       |      {"name": "name", "type": "string"},
       |      {"name": "ts_ms", "type": "long"},
       |      {"name": "db", "type": "string"},
       |      {"name": "table", "type": ["null", "string"], "default": null},
       |      {"name": "file", "type": "string"},
       |      {"name": "pos", "type": "long"}]}},
       |  {"name": "op", "type": "string"},
       |  {"name": "ts_ms", "type": ["null", "long"], "default": null}
       |]}""".stripMargin

  val keySchemaJson: String =
    s"""{"type": "record", "name": "Key", "namespace": "$Topic", "fields": [
       |  {"name": "id", "type": {"type": "int", ${param("INT", "11")}}}]}""".stripMargin

  /** Schema registry contents the fetcher serves. */
  val registry: Map[Int, String] = Map(
    V1 -> valueSchemaJson(v2 = false), V2 -> valueSchemaJson(v2 = true),
    KeySchemaId -> keySchemaJson)

  sealed trait Keys
  case object Uniform extends Keys
  final case class Zipf(universe: Int, s: Double) extends Keys

  private val FirstNames = Array("Sally", "George", "Edward", "Anne", "Ravi",
    "Priya", "Wei", "Fatima", "Lars", "Ines", "Kofi", "Mei", "Omar", "Lena",
    "Yuki", "Arjun", "Sofia", "Mateo", "Chloe", "Tariq")
  private val LastNames = Array("Thomas", "Bailey", "Walker", "Kretchmar",
    "Jones", "Dhoni", "Sharma", "Chen", "Okafor", "Silva", "Novak", "Berg")
  private val Domains = Array("example.com", "example.com", "gmail.com",
    "corp.io", "exampledev.com", "mail.org")
  private val Quotes = Array(
    "the unexamined life is not worth living, said philosophy",
    "pizza on fridays keeps the team together",
    "ship small changes often",
    "measure twice, cut once",
    "a philosophy of pizza and patience",
    "premature optimization is the root of all evil")
  private val Tiers = Array("gold", "silver", "bronze")

  /** Zipf inverse-CDF over [0, universe): weight(k) = 1/(k+1)^s. */
  private def zipfCdf(universe: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](universe)
    var acc = 0.0
    var k = 0
    while (k < universe) { acc += math.pow(k + 1.0, -s); cdf(k) = acc; k += 1 }
    k = 0
    while (k < universe) { cdf(k) /= acc; k += 1 }
    cdf(universe - 1) = 1.0
    cdf
  }

  /** Generator state: the live rows of the upstream table. Creates,
    * updates and deletes are always consistent with it (a create only
    * for an absent key, update/delete only for a live one). */
  final class Source(seed: Long, keys: Keys) {
    private val rnd = new SplittableRandom(seed)
    private val live = mutable.HashMap.empty[Int, Cust]
    private val liveIds = mutable.ArrayBuffer.empty[Int]
    private val liveIdx = mutable.HashMap.empty[Int, Int]
    private var nextId = 1
    private var version = V1
    private var offset = 0L
    private val cdf = keys match {
      case Zipf(u, s) => zipfCdf(u, s)
      case Uniform => null
    }

    private val schemas = Map(
      V1 -> new Schema.Parser().parse(valueSchemaJson(v2 = false)),
      V2 -> new Schema.Parser().parse(valueSchemaJson(v2 = true)))
    private val keySchema = new Schema.Parser().parse(keySchemaJson)
    private val writers = (schemas.toSeq :+ (KeySchemaId -> keySchema)).map {
      case (id, sc) => id -> new GenericDatumWriter[GenericRecord](sc)
    }.toMap
    private val out = new ByteArrayOutputStream(1024)
    private var enc: BinaryEncoder = null


    private def pick[T](xs: Array[T]): T = xs(rnd.nextInt(xs.length))
    private def maybe[T <: AnyRef](pNull: Double)(v: => T): T =
      if (rnd.nextDouble() < pNull) null.asInstanceOf[T] else v

    private def email(first: String, last: String): String =
      s"${first.toLowerCase}.${Option(last).getOrElse("x").toLowerCase}" +
        s"${rnd.nextInt(1000)}@${pick(Domains)}"
    private def mobile(): String =
      if (rnd.nextInt(50) == 0) "   " // whitespace-only: lands as NULL
      else "9" + (0 until 9).map(_ => rnd.nextInt(10)).mkString
    private def score(): String =
      s"${rnd.nextInt(1000000)}.${"%04d".format(rnd.nextInt(10000))}"
    private def tier(): String =
      if (version == V2) maybe(0.25)(pick(Tiers)) else null

    private def fresh(id: Int): Cust = {
      val first = pick(FirstNames)
      val last = maybe(0.1)(pick(LastNames))
      Cust(id, first, last, email(first, last), maybe(0.15)(mobile()),
        maybe(0.1)(Int.box(rnd.nextInt(30000) - 15000)),
        maybe(0.05)(score()),
        maybe(0.05)(Long.box(1600000000000000L + rnd.nextLong(100000000000000L))),
        maybe(0.05)(Boolean.box(rnd.nextBoolean())),
        maybe(0.2)(pick(Quotes)), tier())
    }

    private def changed(c: Cust): Cust = rnd.nextInt(4) match {
      case 0 => c.copy(email = email(c.firstName, c.lastName), tier = tier())
      case 1 => c.copy(score = maybe(0.05)(score()),
        active = Boolean.box(rnd.nextBoolean()), tier = tier())
      case 2 => c.copy(mobile = maybe(0.15)(mobile()),
        quote = maybe(0.2)(pick(Quotes)), tier = tier())
      case _ => c.copy(lastName = maybe(0.1)(pick(LastNames)), tier = tier())
    }

    private def valueRecord(sc: Schema, c: Cust): GenericRecord = {
      val r = new GenericData.Record(sc.getField("before").schema().getTypes.get(1))
      r.put("id", c.id); r.put("first_name", c.firstName)
      r.put("last_name", c.lastName); r.put("email", c.email)
      r.put("mobile_number", c.mobile); r.put("dob", c.dob)
      r.put("score", c.score); r.put("created_at", c.createdAt)
      r.put("active", c.active); r.put("favourite_quote", c.quote)
      if (version == V2) r.put("loyalty_tier", c.tier)
      r
    }

    private def framed(schemaId: Int, rec: GenericRecord): Array[Byte] = {
      out.reset()
      out.write(0)
      out.write(schemaId >>> 24); out.write(schemaId >>> 16)
      out.write(schemaId >>> 8); out.write(schemaId)
      enc = EncoderFactory.get().binaryEncoder(out, enc)
      writers(schemaId).write(rec, enc)
      enc.flush()
      out.toByteArray
    }

    private def keyFrame(id: Int): Array[Byte] = {
      val r = new GenericData.Record(keySchema)
      r.put("id", id)
      framed(KeySchemaId, r)
    }

    private def envelope(op: String, before: Cust, after: Cust): Array[Byte] = {
      val sc = schemas(version)
      val env = new GenericData.Record(sc)
      if (before != null) env.put("before", valueRecord(sc, before))
      if (after != null) env.put("after", valueRecord(sc, after))
      val src = new GenericData.Record(sc.getField("source").schema())
      src.put("version", "1.9.7.Final"); src.put("connector", "mysql")
      src.put("name", "ts"); src.put("ts_ms", 1700000000000L + offset)
      src.put("db", Database); src.put("table", Table)
      src.put("file", "mysql-bin.000003"); src.put("pos", 154L + offset * 311L)
      env.put("source", src)
      env.put("op", op)
      env.put("ts_ms", 1700000000000L + offset)
      framed(version, env)
    }

    private def addLive(c: Cust): Unit = {
      if (!live.contains(c.id)) { liveIdx(c.id) = liveIds.size; liveIds += c.id }
      live(c.id) = c
    }
    private def removeLive(id: Int): Unit = {
      live.remove(id)
      val i = liveIdx.remove(id).get
      val last = liveIds.remove(liveIds.size - 1)
      if (last != id) { liveIds(i) = last; liveIdx(last) = i }
    }

    private def nextKey(): Int = cdf match {
      case null => -1
      case c =>
        val u = rnd.nextDouble()
        val i = java.util.Arrays.binarySearch(c, u)
        1 + (if (i >= 0) i else -i - 1)
    }

    /** Generate `n` messages (tombstones and corrupt frames included).
      * Uniform keys mix 80/15/5 create/update/delete; zipf keys create
      * absent keys and update (or, 5% of the time, delete) live ones.
      * `corruptPerMille` unframed frames are interleaved; from message
      * `v2From` on, values use schema v2. */
    def events(n: Int, corruptPerMille: Int = 2, onlyCreates: Boolean = false,
        v2From: Int = Int.MaxValue): Events = {
      val first = offset
      val keysB = new Array[Array[Byte]](n)
      val vals = new Array[Array[Byte]](n)
      val kinds = new Array[Byte](n)
      val ids = new Array[Int](n)
      val rows = new Array[Cust](n)
      val vers = new Array[Byte](n)
      var i = 0
      def emit(kind: Byte, id: Int, key: Array[Byte], value: Array[Byte],
          row: Cust): Unit = {
        keysB(i) = key; vals(i) = value; kinds(i) = kind; ids(i) = id
        rows(i) = row; vers(i) = version.toByte
        i += 1; offset += 1
      }
      while (i < n) {
        if (i >= v2From) version = V2
        if (!onlyCreates && rnd.nextInt(1000) < corruptPerMille) {
          val junk = s"""{"id": ${rnd.nextInt()}, "garbled": true}""".getBytes("UTF-8")
          emit(Corrupt, -1, keyFrame(0), junk, null)
        } else {
          val roll = rnd.nextInt(100)
          val key = nextKey()
          val (op, id) =
            if (onlyCreates) (Create, { nextId += 1; nextId - 1 })
            else if (key >= 0) {
              if (!live.contains(key)) (Create, key)
              else if (roll < 95) (Update, key)
              else (Delete, key)
            } else if (roll < 80 || liveIds.isEmpty) (Create, { nextId += 1; nextId - 1 })
            else (if (roll < 95) Update else Delete,
              liveIds(rnd.nextInt(liveIds.size)))
          op match {
            case Create =>
              val c = fresh(id)
              addLive(c)
              emit(Create, id, keyFrame(id), envelope("c", null, c), c)
            case Update =>
              val before = live(id)
              val after = changed(before)
              addLive(after)
              emit(Update, id, keyFrame(id), envelope("u", before, after), after)
            case _ =>
              val before = live(id)
              removeLive(id)
              emit(Delete, id, keyFrame(id), envelope("d", before, null), null)
              // Debezium follows every delete with a tombstone for compaction
              if (i < n) emit(Tombstone, id, keyFrame(id), null, null)
          }
        }
      }
      new Events(first, keysB, vals, kinds, ids, rows, vers)
    }
  }
}
