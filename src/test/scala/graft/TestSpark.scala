package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Deletes every index dir `DocQueries.derived` made from the corpus
    * dir `sfDir` (`graft_<tag>_v<format>_<hash of sfDir>` under
    * java.io.tmpdir). */
  def dropDerived(sfDir: String): Unit = {
    val hash = Integer.toHexString(sfDir.hashCode)
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles()).getOrElse(Array.empty)
      .filter(d => d.getName.startsWith("graft_") && d.getName.endsWith(s"_$hash"))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }
}
