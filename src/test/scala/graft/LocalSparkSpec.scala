package graft

import org.scalatest.funsuite.AnyFunSuite

/** LocalSpark is the only place a driver session is built and the only
  * reader of SPARK_GRAFT_CPUS. */
class LocalSparkSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: a positive integer or unset is accepted") {
    assert(LocalSpark.parseCpus(Some("4")) == 4)
    assert(LocalSpark.parseCpus(None) == Runtime.getRuntime.availableProcessors())
  }

  test("SPARK_GRAFT_CPUS: anything else is rejected with a message naming the variable") {
    Seq("0", "-1", "local[*]", "a/b", "").foreach { v =>
      val e = intercept[IllegalArgumentException](LocalSpark.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("src/main builds a SparkSession and reads SPARK_GRAFT_CPUS only in LocalSpark") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // one file name per occurrence
    def occurrences(needle: String): Seq[String] = sources.flatMap { p =>
      val n = java.nio.file.Files.readString(p)
        .split(java.util.regex.Pattern.quote(needle), -1).length - 1
      Seq.fill(n)(p.getFileName.toString)
    }
    assert(sources.size > 10)
    assert(occurrences("SparkSession.builder") == Seq("LocalSpark.scala"))
    assert(occurrences("\"SPARK_GRAFT_CPUS\"") == Seq("LocalSpark.scala"))
  }
}
