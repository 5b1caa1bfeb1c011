package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine surface is assembled from [[QueryPack]]s, one per operator
  * family; each pack contributes (name, query fn, optional DuckDB oracle)
  * triples. Packs must keep query names globally unique.
  */
object SparkEntry {

  /** All operator families the engine declares. */
  val packs: Seq[QueryPack] = Seq(
    CoreOps, JoinOps, AggOps, WindowFuncOps, SortSetOps, ScalarOps,
    CohortOps, AnomalyOps,
    TextOps, BpeOps, UnigramOps, DedupOps, GraphOps, ClusterOps,
    SimilarityOps, SearchOps, EmbedIndexOps,
    CustomOps, MultimodalOps, TypedOps, SourceOps, CleanPipelineOps, ShardOps,
    CurationOps, MixOps, TrainOps, ProfileOps, LayoutOps, AuditOps,
    graft.streaming.StreamingOps)

  private lazy val all: Seq[QueryDef] = {
    val ds = packs.flatMap(_.defs)
    require(ds.map(_.name).distinct.size == ds.size,
      s"duplicate query names: ${ds.groupBy(_.name).filter(_._2.size > 1).keys}")
    ds
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreOps.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * applies the scale-adaptive shuffle-partition default for the
    * query's corpus ([[Fs.partitionsFor]]) before building the plan. At
    * sf0.1 (17.5 MB) this is 4 where the core count was the default:
    * the sub-second tail paid pure per-task scheduling overhead. CPU-
    * bound stage widths are NOT tied to it: the pair-verify kernels pin
    * their width to [[Fs.computeWidth]].
    * Declared results are partition-count invariant (every query's
    * output is sorted/aggregated). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> ((s: SparkSession, d: String) => {
      s.conf.set("spark.sql.shuffle.partitions",
        Fs.partitionsFor(d).toString)
      q.fn(s, d)
    })).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (driver
    * then records a weaker rows-only check).
    *
    * A lazily-rendered oracle (oracleFn) that cannot render — its query
    * fn never ran in this JVM, e.g. because that one query crashed
    * during Verify — is OMITTED with a stderr note instead of aborting
    * the whole dump: the offender already surfaces as a per-query
    * failure, and one red query must not zero every other oracle. */
  def oracleSql: Map[String, String] =
    all.flatMap { q =>
      try q.oracleNow.map(q.name -> _)
      catch {
        case e: IllegalStateException =>
          System.err.println(
            s"[verify] oracle for ${q.name} not renderable: ${e.getMessage}")
          None
      }
    }.toMap
}
