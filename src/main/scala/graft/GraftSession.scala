package graft

import org.apache.spark.sql.SparkSession

/** The library's front door: a SparkSession wired the way the engine
  * expects — UTC session time, AQE on, shuffle parallelism matched to
  * cores (not the 200 default), a generated-code cache sized for the
  * engine's plans, and the graft extensions (array_dot, bbox_overlaps,
  * the bbox-join optimizer rule) installed.
  *
  *   val spark = GraftSession.local(32)          // local[32]
  *   // or on a cluster:
  *   val spark = GraftSession.configure(
  *     SparkSession.builder().master(...)).getOrCreate()
  *
  * Why the codegen cache is sized: Spark compiles every whole-stage
  * and projection class with Janino and keeps the compiled classes in
  * one JVM-wide LRU cache of `spark.sql.codegen.cache.maxEntries`
  * entries, 100 by default. A warm pass of the heavy curation qids
  * (`curation_ensemble`, `text_langid_nb`, `pipeline_build_mixture`,
  * `pipeline_clean_corpus`) has a working set of about 300 distinct
  * generated classes, so an LRU of 100 cycled through by it hits
  * almost never, and each pass recompiled about 270 classes — about a
  * third of its CPU. At 1024 entries (that working set with headroom
  * for the rest of the engine's plans) a warm pass compiles only the
  * few stages whose whole-stage codegen id differs from the cold
  * pass's (the id is part of the class source). The cache is built
  * once per JVM, at the first code generation, from the conf of the
  * session active then: the first session built through `configure`
  * sizes it, a later one cannot resize it. It is a static conf, so
  * setting it on a running session (`spark.conf.set`) throws.
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", 1024L)
      .withExtensions(new GraftExtensions)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    // getOrCreate may have returned a pre-existing session where
    // builder extensions don't apply — runtime registration covers it
    GraftExtensions.register(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
