package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** The engine's generated-code cache holds a curation pass's working
  * set: a second pass over the heavy curation qids, on its own copy of
  * the tables (so every memoized build is built afresh, as in a new
  * request), reuses the classes the first pass compiled instead of
  * recompiling them. */
class CodegenReuseSpec extends SparkSpec {

  private val qids = Seq("curation_ensemble", "text_langid_nb",
    "pipeline_build_mixture", "pipeline_clean_corpus")

  /** A copy of the fixture tables under a root of its own. */
  private def tablesCopy(): String = {
    val root = Files.createTempDirectory("graft-codegen-tables")
    val ls = Files.list(Paths.get(sf))
    try ls.iterator().asScala.foreach(f => Files.copy(f, root.resolve(f.getFileName)))
    finally ls.close()
    root.toString
  }

  /** Classes Janino compiles while every qid runs once on `root`. */
  private def compiledBy(root: String): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    qids.foreach(q => SparkEntry.queries(q)(spark, root).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the session sizes the JVM-wide codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
  }

  test("a second curation pass reuses the classes the first compiled") {
    val first = compiledBy(tablesCopy())
    val second = compiledBy(tablesCopy())
    info(s"the first pass compiled $first classes, the second $second")
    assert(second * 4 <= first,
      s"the second pass compiled $second classes, the first $first")
  }
}
