package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}

trait SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.session
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh corpus dir that holds each of `tables` as
    * `<name>.parquet` and a copy of every other sf0.001 table, and
    * deletes the dir afterwards. The library reads every table from its
    * file, so this is how a test plants a table of its own; the tiers
    * it builds are keyed by the planted dir, apart from sf0.001's. */
  def withCorpus[T](tables: (String, DataFrame)*)(body: String => T): T = {
    val planted = tables.toMap
    require(planted.keySet.subsetOf(Tables.all.toSet), planted.keySet)
    def tree(p: Path): Seq[Path] = {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
    val dir = Files.createTempDirectory("graft-corpus")
    try {
      for (n <- Tables.all) planted.get(n) match {
        case Some(df) => df.write.parquet(dir.resolve(s"$n.parquet").toString)
        case None =>
          val src = Paths.get(sf0001, s"$n.parquet")
          tree(src).foreach(p =>
            Files.copy(p, dir.resolve(src.getParent.relativize(p).toString)))
      }
      body(dir.toString)
    } finally tree(dir).reverse.foreach(Files.delete)
  }
}
