package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, to_timestamp}

import graft.Pipeline
import graft.gold.{Cleaner, GoldWriter}
import graft.ingest.Ingest
import graft.model.JobSpec
import graft.silver.Transformer

/** `graft.Pipeline.run`, step for step, with a span around each layer call.
  * Traced runs drive the pipeline through this copy; the benchmark checks
  * that it leaves the same Gold table as `Pipeline.run` for the same inputs,
  * so the spans keep describing the shipped orchestration.
  */
object Replica {

  def run(spark: SparkSession, job: JobSpec, raw: Map[String, DataFrame], base: String,
      corrId: String, now: java.time.LocalDate, t: Tracer): Pipeline.RunResult =
    t.span("pipeline") {
      val wmPath = s"$base/watermarks/last.txt"
      val watermark = if (job.mode == "streaming") Ingest.loadWatermark(wmPath) else None

      val primary = t.span("ingest") {
        val primary = Ingest.applyJob(raw("crashes"), job, watermark, now)
        if (primary.isEmpty) None
        else {
          Ingest.writeBronze(primary, base, "crashes", corrId)
          val ids = primary.select(job.joinKey)
          job.enrich.foreach { e =>
            val alias = e.alias.getOrElse(e.id)
            val enriched = Ingest.semiJoinEnrich(raw(alias), ids, job.joinKey)
            val selected = e.select
              .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
              .filter(_.nonEmpty)
              .map(cols => enriched.select(cols.filter(enriched.columns.contains).map(col): _*))
              .getOrElse(enriched)
            selected.write.mode("append").option("compression", "gzip")
              .json(s"$base/$alias/corr=$corrId")
          }
          Some(primary)
        }
      }

      if (primary.isEmpty) {
        val goldPath = s"$base/gold"
        val report =
          if (GoldWriter.tableExists(spark, goldPath))
            GoldWriter.integrityCheck(spark, goldPath, job.joinKey, 0L)
          else GoldWriter.IntegrityReport(0L, 0L, 0L, 0L)
        Ingest.writeManifest(base, corrId, job.mode, "", now.toString, now.toString)
        Pipeline.RunResult(corrId, 0L, report, Ingest.loadWatermark(wmPath))
      } else {
        val (bCrashes, enrich) = t.span("ingest.read_bronze") {
          val b = Ingest.readBronze(spark, base, "crashes", corrId)
          def readEnrich(i: Int): DataFrame =
            job.enrich.lift(i).map(e => e.alias.getOrElse(e.id)) match {
              case None => spark.emptyDataFrame
              case Some(a) =>
                try spark.read.json(s"$base/$a/corr=$corrId")
                catch { case _: org.apache.spark.sql.AnalysisException => spark.emptyDataFrame }
            }
          (b, (readEnrich(0), readEnrich(1)))
        }

        t.span("silver") {
          val merged = Transformer.mergeCrashVehiclesPeople(bCrashes, enrich._1, enrich._2,
            job.joinKey)
          Transformer.makeCsvSafe(merged).write.mode("overwrite").option("header", "true")
            .csv(s"$base/silver/corr=$corrId")
        }

        val (silverBack, gold) = t.span("gold.clean") {
          val back = spark.read.option("header", "true").csv(s"$base/silver/corr=$corrId")
          val cleaned = Cleaner.cleanData(back)
          (back, Cleaner.toGold(cleaned, corrId, java.sql.Timestamp.valueOf(now.atStartOfDay())))
        }
        val report = t.span("gold.upsert") {
          GoldWriter.upsertBucketed(spark, gold, s"$base/gold")
        }

        val newWm = bCrashes.agg(max(to_timestamp(col("crash_date"))).cast("string"))
          .first().getString(0)
        Option(newWm).foreach(wm => Ingest.saveWatermark(wmPath, wm, job.mode))
        Ingest.writeManifest(base, corrId, job.mode, "", now.toString, now.toString)
        Pipeline.RunResult(corrId, silverBack.count(), report, Ingest.loadWatermark(wmPath))
      }
    }
}
