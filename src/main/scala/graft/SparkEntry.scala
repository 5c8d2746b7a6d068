package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory + LLM-pipeline
  * additions) to Spark implementations over the parquet test tables;
  * `oracleSql` carries the DuckDB-equivalent SQL the driver uses as a
  * correctness oracle. Column names and value semantics are matched
  * bit-exactly (see Relational/TextOps/EmbedOps scaladoc for the fp
  * determinism strategy).
  */
object SparkEntry {

  private def allDefs: Map[String, QueryDef] =
    Relational.queries ++ TextOps.queries ++ PipelineOps.queries ++
      CurateOps.queries ++ TemporalOps.queries ++ EmbedOps.queries ++
      AnnOps.queries ++ ClusterOps.queries ++ ApproxOps.queries ++ GraphOps.queries ++ HudiQueries.queries ++ Map(
        "media_byte_stats" -> QueryDef(
          (s, d) => graft.operators.MultimodalOps.byteStats(s, d),
          Some(graft.operators.MultimodalOps.byteStatsOracle)),
        "media_frame_sample" -> QueryDef(
          (s, d) => graft.operators.MultimodalOps.frameSample(s, d),
          Some(graft.operators.MultimodalOps.frameSampleOracle)),
        "media_mime_sniff" -> QueryDef(
          (s, d) => graft.operators.MultimodalOps.mimeSniff(s, d),
          Some(graft.operators.MultimodalOps.mimeSniffOracle)),
        "media_image_meta" -> QueryDef(
          (s, d) => graft.operators.MultimodalOps.imageMeta(s, d),
          Some(graft.operators.MultimodalOps.imageMetaOracle)),
        "media_wav_meta" -> QueryDef(
          (s, d) => graft.operators.MultimodalOps.wavMeta(s, d),
          Some(graft.operators.MultimodalOps.wavMetaOracle)),
        "media_tar_index" -> QueryDef(
          (s, d) => graft.operators.MultimodalOps.tarIndex(s, d),
          Some(graft.operators.MultimodalOps.tarIndexOracle)),
        "media_tar_extract" -> QueryDef(
          (s, d) => graft.operators.MultimodalOps.tarExtract(s, d),
          Some(graft.operators.MultimodalOps.tarExtractOracle)))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q5_local_supplier_volume").impl(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Each impl is entered through [[graft.util.Materialize.drain]]: the
    * PREVIOUS invocation's per-invocation persisted frames (the one-shot
    * CTE materializations) are freed before the next query runs — the
    * sequential drivers (Bench/Verify/oracle) have consumed the previous
    * result by then, so this bounds block-manager pressure to one
    * invocation's frames while keeping recompute-on-loss lineage (see
    * Materialize scaladoc for why unpersist cannot be in-impl).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (k, v) =>
      k -> { (s: SparkSession, d: String) =>
        graft.util.Materialize.drain(s)
        v.impl(s, d)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
