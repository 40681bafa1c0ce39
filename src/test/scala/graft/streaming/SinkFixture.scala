package graft.streaming

import graft.mask.MaskConfig
import graft.sources.StaticSchemaFetcher
import graft.warehouse.{MergeOnReadCatalog, ParquetCatalog, TableStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import perfbench.{Events, Gen, Model}

/** What the sink specs share: perfbench's generator ([[Gen]]) feeds the
  * sink, and perfbench's [[Model]] says what the landed table must be.
  * The mask rules here are the specs' own, not the benchmark's. */
object SinkFixture {
  val Schema: String = Gen.Database
  val Table: String = Gen.Table
  val Salt = "sink-spec-salt"

  /** The rules the released table is built with. */
  val Mask: MaskConfig = MaskConfig.parse(
    """non_pii_keys:
      |  customers: [id, created_at, active, score, loyalty_tier]
      |conditional_non_pii_keys:
      |  customers:
      |    email: ['%gmail.com', '%corp.io']
      |dependent_non_pii_keys:
      |  customers:
      |    last_name:
      |      first_name: [Sally, Wei, Omar]
      |length_keys:
      |  customers: [favourite_quote, last_name]
      |mobile_keys:
      |  customers: [mobile_number]
      |regex_pattern_boolean_keys:
      |  customers:
      |    favourite_quote:
      |      has_ship: 'ship'
      |""".stripMargin)

  /** The changed rules a mask reload rebuilds the table under. */
  val ReloadMask: MaskConfig = MaskConfig.parse(
    """non_pii_keys:
      |  customers: [id, created_at, active, dob]
      |conditional_non_pii_keys:
      |  customers:
      |    email: ['%example.com']
      |length_keys:
      |  customers: [email]
      |mobile_keys:
      |  customers: [mobile_number]
      |regex_pattern_boolean_keys:
      |  customers:
      |    favourite_quote:
      |      has_pizza: 'pizza'
      |      has_measure: 'measure'
      |""".stripMargin)

  val fetcher = new StaticSchemaFetcher(Gen.registry)

  def cfg(mask: MaskConfig = Mask): CdcStream.TopicConfig = CdcStream.TopicConfig(
    topic = Gen.Topic, targetSchema = Schema, targetTable = Table,
    maskConfig = mask, salt = Salt)

  /** A Kafka micro-batch of all of `ev`'s frames, in two partitions. */
  def frames(spark: SparkSession, ev: Events): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ev.frames(0, ev.size), 2)
      .toDF("offset", "key", "value")
  }

  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One way through the sink: a micro-batch in, its table landed. */
  sealed trait Path {
    def name: String
    def load(spark: SparkSession, batch: DataFrame, batchId: Long,
        store: TableStore, cfg: CdcStream.TopicConfig): Unit
  }

  /** The single-job pipeline, [[CdcStream.processBatch]]. */
  case object Direct extends Path {
    val name = "CdcStream.processBatch"
    def load(spark: SparkSession, batch: DataFrame, batchId: Long,
        store: TableStore, cfg: CdcStream.TopicConfig): Unit =
      CdcStream.processBatch(batch, fetcher, store, cfg)
  }

  /** The two-stage pipeline: [[Batcher.processBatch]] writes NDJSON
    * objects under `outRoot`, [[Loader.load]] loads each Job. A replayed
    * batch reruns both halves under its batch id. */
  final case class Staged(outRoot: String) extends Path {
    val name: String = Staged.Name
    def load(spark: SparkSession, batch: DataFrame, batchId: Long,
        store: TableStore, cfg: CdcStream.TopicConfig): Unit =
      Batcher.processBatch(batch, batchId, fetcher, cfg, outRoot)
        .foreach(j => Loader.load(spark, j, store, cfg, Seq("id")))
  }
  object Staged { val Name = "Batcher.processBatch → Loader.load" }

  /** A table store under a fresh root. */
  sealed trait Store {
    def name: String
    def make(spark: SparkSession, root: String): TableStore
  }
  case object Parquet extends Store {
    val name = "ParquetCatalog"
    def make(spark: SparkSession, root: String): TableStore =
      new ParquetCatalog(spark, root)
  }
  /** Compacts at the second delta, so that a history of three batches
    * crosses a compaction: batches 1 and 2 are deltas, and batch 2's load
    * folds them into the base. */
  case object Mor extends Store {
    val name = "MergeOnReadCatalog"
    def make(spark: SparkSession, root: String): TableStore =
      new MergeOnReadCatalog(spark, root, compactEvery = 2)
  }

  /** A landed table against the model of `batches` under `mask`. */
  def check(landed: DataFrame, batches: Seq[Events], mask: MaskConfig = Mask,
      v2: Boolean = false): Model.Check =
    Model.check(landed, Model.lastWriterWins(batches.map(e => e -> e.size)),
      mask, Table, Salt, v2)

  /** Seeds of the generator per property, fixed: a failure names its seed
    * and replays. */
  val SeedsPerProperty = 2
  private val InitialSeed = 20261020L

  /** `body` for [[SeedsPerProperty]] generator seeds drawn by a ScalaCheck
    * `forAll` from a fixed initial seed; fails with the failing seed. */
  def forSeeds(body: Long => Unit): Unit = {
    val seen = scala.collection.mutable.Set.empty[Long]
    val prop = Prop.forAllNoShrink(org.scalacheck.Gen.choose(1L, 1L << 40)) {
      seed => seen += seed; body(seed); true
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(SeedsPerProperty).withWorkers(1)
      .withInitialSeed(Seed(InitialSeed)), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    assert(seen.size == SeedsPerProperty, s"seeds drawn: $seen")
  }
}
