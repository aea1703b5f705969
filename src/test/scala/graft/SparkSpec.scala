package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-suite local SparkSession (spark_guide: lazy val). */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // pinned at Spark's defaults: the upsert files-per-month contract
    // (Round23Spec) rests on AQE's REBALANCE advisory-size packing
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    .getOrCreate()
}
