package graft.pipeline

import graft.sources.KeyedParquetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The incremental ingests' duplicate-delivery preconditions, enforced
  * under `spark.graft.store.debugChecks=true` (the store's opt-in flag;
  * both probes scan, so they are for specs and staging runs). Each
  * module passes its reason text; `DuplicateDeliverySpec` pins which
  * guard fires for every module × duplicate shape. */
private[pipeline] object DeliveryGuard {

  /** Refuse, in this order: (1) an id appearing more than once within
    * the batch — skipped when `withinWhy` is None, for a module whose
    * store's `incomingUnique` vouch is the refusal point; (2) an id
    * already stored under a batch other than `batchId` — a partition-
    * scoped merge never sees the other partition's copy. Replays under
    * the original batch id pass both. `idCol` names the batch's id
    * column, `storeIdCol` the store's. */
  def check(spark: SparkSession, batch: DataFrame, batchId: String,
            idCol: String, storePath: String, storeSchema: StructType,
            storeIdCol: String, module: String,
            withinWhy: Option[String], resentWhy: String): Unit =
    if (KeyedParquetStore.debugChecksOn(spark)) {
      val refused = s"$module ingest precondition violated: $idCol(s)"
      withinWhy.foreach { why =>
        val dupInBatch = batch.groupBy(col(idCol))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).select(col(idCol)).limit(3)
          .collect().map(_.getLong(0))
        require(dupInBatch.isEmpty,
          s"$refused ${dupInBatch.mkString(", ")} appear " +
            s"more than once within batch '$batchId' — $why")
      }
      KeyedParquetStore.read(spark, storePath, schema = Some(storeSchema))
        .foreach { stored =>
          val resent = stored.filter(col("batch") =!= lit(batchId))
            .join(batch.select(col(idCol).as(storeIdCol)).distinct(),
              Seq(storeIdCol), "left_semi")
            .select(col(storeIdCol)).distinct().limit(3)
            .collect().map(_.getLong(0))
          require(resent.isEmpty,
            s"$refused ${resent.mkString(", ")} already indexed under a " +
              s"different batch than '$batchId' — $resentWhy")
        }
    }
}
