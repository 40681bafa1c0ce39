package graft

import graft.ops.{Dedup, Ivf, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-scoped builds of PERSISTED artifacts (IVF and IVF-PQ indexes,
  * MinHash signatures, DSIR ratios, winnowing fingerprints): the serving
  * story is index-once-probe-many, so a probe should not pay the
  * (amortized-over-every-probe) build. Each build runs once per (kind,
  * sf dir) per JVM and reports its cost in [[buildSecs]]. No catalog
  * query or `graft.Bench` section uses these any more; the object stays
  * with its spec until the non-sink libraries are deleted.
  */
object IndexStore {

  final case class Built(path: String, buildSec: Double)

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Built]

  // Session-memoized read PLANS over built artifacts (VERDICT r19 #3):
  // every probe run used to pay `spark.read.parquet(path)` — a fresh
  // file listing plus parquet-footer schema inference — against a
  // store that IS immutable for the session (built once, above). The
  // memo holds the lazy DataFrame (an InMemoryFileIndex + schema, i.e.
  // PATH METADATA — the same thing Spark's filesourcePartitionFileCache
  // keeps for catalog tables), never results: each run still executes
  // the full scan + probe from parquet. Only IndexStore scratch paths
  // may use this — paths that get appended or compacted (stream
  // indexes) would read a stale listing.
  private val readCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Count of real `read.parquet` metadata loads through [[readBuilt]]
    * — the spec's observability hook: a second probe of the same built
    * store must not add a load. */
  private[graft] val metaLoads = new java.util.concurrent.atomic.AtomicLong

  /** The session-memoized lazy read plan for a built artifact; loads
    * (lists + infers schema) once per (kind, dir) per session. */
  def readBuilt(s: SparkSession, kind: String, dir: String,
      path: String): DataFrame =
    readCache.get((kind, dir)) match {
      case Some(df) if df.sparkSession eq s => df
      case _ =>
        metaLoads.incrementAndGet()
        val df = s.read.parquet(path)
        readCache((kind, dir)) = df
        df
    }

  /** Scratch location keyed by sf dir so concurrent runs against
    * different scales never collide: readable sanitized name PLUS a hash
    * of the raw dir (sanitization alone maps distinct dirs — "…/sf_1" vs
    * "…/sf/1" — to one path, and two runs sharing a scratch index would
    * race). */
  private def scratch(kind: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_index/" +
      s"${kind}_${dir.replaceAll("[^A-Za-z0-9.]", "_")}_" +
      java.lang.Integer.toHexString(dir.hashCode)

  private def timed(path: String)(build: String => Unit): Built = {
    val t0 = System.nanoTime()
    build(path)
    Built(path, (System.nanoTime() - t0) / 1e9)
  }

  /** Cell-partitioned IVF index (centroid sidecar included) over the
    * embeddings corpus minus the query vector — the layout
    * [[graft.ops.Ivf.probe]] partition-prunes. */
  def annIvf(s: SparkSession, dir: String): Built =
    cache.getOrElseUpdate(("ann_ivf", dir), {
      val emb = Tables.read(s, dir, "embeddings")
      timed(scratch("ivf", dir)) { p =>
        val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
        Ivf.index(emb.filter(col("vec_id") =!= 0), "embedding", model, p)
      }
    })

  /** IVF-PQ index: coarse cells as partition directories, rows carrying
    * only the m code ints (plus both model sidecars) — probed by
    * [[graft.ops.Pq.probeIndexed]]. */
  def annIvfPq(s: SparkSession, dir: String): Built =
    cache.getOrElseUpdate(("ann_ivfpq", dir), {
      val emb = Tables.read(s, dir, "embeddings")
      timed(scratch("ivfpq", dir)) { p =>
        val coarse = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
        val cb = Pq.train(emb, "vec_id", "embedding", m = 4, dsub = 16,
          k = 8, iters = 2)
        Pq.index(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          coarse, cb, p)
      }
    })

  /** Persisted MinHash signature store for the corpus half (doc_id <=
    * 400) of the documents table — the accumulated-corpus side
    * [[graft.ops.Dedup.minHashIncrementalPortable]] probes without ever
    * re-shingling. */
  def minhashSigs(s: SparkSession, dir: String): Built =
    cache.getOrElseUpdate(("minhash_sigs", dir), {
      val d = Dedup.spread(Tables.read(s, dir, "documents"))
      timed(scratch("minhash_sigs", dir)) { p =>
        Dedup.minHashSignaturesPortable(
            d.filter(col("doc_id") <= 400), "doc_id", "text",
            n = 3, numHashes = 64)
          .write.mode("overwrite").parquet(p)
      }
    })

  /** DSIR bucket-ratio table (bounded: O(1024) rows) over the FULL
    * documents corpus against the benchmark stand-in target
    * (doc_id % 50 = 0) — the persistable statistics
    * [[graft.ops.Dsir.weightsWithRatios]] scores ingest batches against
    * with zero corpus work. Full-corpus build on purpose: the
    * incremental query value-checks as a restriction of
    * `q_x_dsir_weights`. */
  def dsirRatios(s: SparkSession, dir: String): Built =
    cache.getOrElseUpdate(("dsir_ratios", dir), {
      val d = Dedup.spread(Tables.read(s, dir, "documents"))
      timed(scratch("dsir_ratios", dir)) { p =>
        graft.ops.Dsir.ratioTable(d, "doc_id", "text",
            Tables.read(s, dir, "documents")
              .filter(col("doc_id") % 50 === 0), "text")
          .write.mode("overwrite").parquet(p)
      }
    })

  /** Corpus winnowing fingerprints (docs <= 400 — the same persisted-
    * corpus split minhashSigs uses) for the incremental quote-detection
    * probe. At deployment scale this build also caps fingerprint
    * frequency (see [[graft.ops.Dedup.winnowIncremental]]); the
    * test-corpus build stores all fps. */
  def winnowFps(s: SparkSession, dir: String): Built =
    cache.getOrElseUpdate(("winnow_fps", dir), {
      val d = Dedup.spread(Tables.read(s, dir, "documents"))
      timed(scratch("winnow_fps", dir)) { p =>
        Dedup.winnowFingerprints(
            d.filter(col("doc_id") <= 400), "doc_id", "text", k = 3, w = 4)
          .write.mode("overwrite").parquet(p)
      }
    })

  /** Build seconds per kind for the given sf dir — keyed per (kind, dir)
    * internally, so a JVM that builds the same kind for two scales never
    * cross-attributes their build times. */
  def buildSecs(dir: String): Map[String, Double] =
    cache.toMap.collect { case ((k, d), b) if d == dir => k -> b.buildSec }
}
