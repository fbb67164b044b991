package graft

import graft.build.{IndexBuilder, Manifests}
import graft.model.StageManifest
import graft.ops.DocQueries
import org.scalatest.funsuite.AnyFunSuite

/** DocQueries' derived-index registry: one version-stamped dir per
  * (corpus, tag), made at most once per JVM and committed by a
  * done-sentinel; a dir without the sentinel is a killed JVM's leftover. */
class DerivedIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A fresh three-doc corpus dir. */
  private def corpus(): String = {
    val sf = TestSpark.tmpDir("regsf")
    Seq((0L, "alpha beta"), (1L, "beta gamma"), (2L, "gamma delta"))
      .toDF("doc_id", "text").write.parquet(s"$sf/documents.parquet")
    sf
  }

  /** The dir `derived` names for (sf, tag). */
  private def dirOf(sf: String, tag: String): String = sys.props("java.io.tmpdir") +
    s"/graft_${tag}_v${IndexBuilder.FormatVersion}_${Integer.toHexString(sf.hashCode)}"

  private def wipe(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  test("a dir without the sentinel is wiped and made once; later calls reuse it") {
    val sf = corpus()
    val dir = dirOf(sf, "regtest")
    val stray = new java.io.File(dir, "stray.txt")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.writeString(stray.toPath, "left by a killed JVM")
    var made = 0
    def open(): String = DocQueries.derived(spark, sf, "regtest") { (docs, d) =>
      made += 1
      assert(!stray.exists(), "the leftover must be wiped before make runs")
      docs.write.parquet(s"$d/docs")
    }
    try {
      assert(open() == dir)
      assert(made == 1 && !stray.exists() && Manifests.isDone(dir, "derived"))
      assert(open() == dir && made == 1)
      assert(spark.read.parquet(s"$dir/docs").count() == 3)
    } finally wipe(dir)
  }

  test("a dir committed by an earlier JVM is reused without make") {
    val sf = corpus()
    val dir = dirOf(sf, "regdone")
    Manifests.write(dir, StageManifest("derived", 1, 0, "done", 0))
    val kept = new java.io.File(dir, "kept.txt")
    java.nio.file.Files.writeString(kept.toPath, "a finished index")
    var made = 0
    try {
      assert(DocQueries.derived(spark, sf, "regdone") { (_, _) => made += 1 } == dir)
      assert(made == 0 && kept.exists())
    } finally wipe(dir)
  }
}
