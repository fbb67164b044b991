package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The source tables of a corpus dir: `documents`, `embeddings` and
  * `events`, each stored as `<sfDir>/<table>.parquet`. The only code that
  * names a corpus file — every op reads its source table through here,
  * and only the table it needs (an embeddings-only dir serves the vector
  * ops). Reading lists the files and reads the schema, so a caller that
  * may not need a table should read it lazily. */
object Corpus {
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")

  private def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
