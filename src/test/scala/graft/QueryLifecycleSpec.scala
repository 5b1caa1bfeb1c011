package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** A query call builds a plan and nothing else (ROADMAP item 3): it
  * writes no session setting, leaves no cache behind that nothing
  * releases, and creates no temp view in the caller's session. */
class QueryLifecycleSpec extends SparkTestBase {

  /** Persisted RDDs once the ContextCleaner has freed the ones nothing
    * references (an unreferenced `localCheckpoint` is freed after a GC;
    * a `.cache()` is pinned until someone unpersists it). */
  private def persisted(): Int = {
    System.gc()
    Thread.sleep(1000)
    spark.sparkContext.getPersistentRDDs.size
  }

  test("the curation queries over fresh corpora leave the session conf " +
      "unchanged and the persisted RDDs flat") {
    val ss = spark.newSession()
    val corpora = Seq.fill(4)(freshCorpus())
    try {
      // a width that the per-corpus rule would overwrite
      ss.conf.set("spark.sql.shuffle.partitions", "7")
      assert(corpora.forall(Fs.partitionsFor(_) != 7))
      val confChanged = scala.collection.mutable.Buffer[String]()
      val persistedAfter = corpora.map { d =>
        for (name <- curationQueries) {
          val before = ss.conf.getAll
          val df = SparkEntry.queries(name)(ss, d)
          if (ss.conf.getAll != before) confChanged += s"building $name"
          df.collect()
          if (ss.conf.getAll != before) confChanged += s"collecting $name"
        }
        persisted()
      }
      println(s"[lifecycle] persisted ${persistedAfter.mkString(", ")}")
      // both properties are reported, so one failing does not hide the other
      val broken = Seq(
        Option.when(confChanged.nonEmpty)(
          s"the session conf changed on ${confChanged.distinct.mkString(", ")}"),
        Option.when(persistedAfter(3) > persistedAfter(1))(
          s"persisted RDDs after each corpus: ${persistedAfter.mkString(", ")}"))
        .flatten
      assert(broken.isEmpty, broken.mkString("; "))
    } finally corpora.foreach(d => Fs.deleteRecursively(Paths.get(d)))
  }

  test("q_sql_subquery creates no temp view in the caller's session") {
    spark.catalog.dropTempView("v_customer")
    spark.range(3).createOrReplaceTempView("v_orders") // the caller's own
    try {
      assert(q("q_sql_subquery").collect().nonEmpty)
      assert(!spark.catalog.tableExists("v_customer"))
      assert(spark.table("v_orders").count() === 3L, "the caller's view was replaced")
    } finally spark.catalog.dropTempView("v_orders")
  }

  /** `src/main` code lines (comments dropped) matching `pattern`. */
  private def codeHits(pattern: String): Seq[(String, String)] = {
    val re = pattern.r
    val walk = Files.walk(Paths.get("src", "main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .flatMap { p =>
        Files.readAllLines(p).asScala.map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("/*"))
          .map(l => l.split("//", 2)(0))
          .flatMap(l => re.findAllIn(l).map(_ => p.getFileName.toString -> l))
      }
    finally walk.close()
  }

  test("src/main does not grow per-call caches or session-wide conf writes") {
    val Item3 = "ROADMAP item 3: a query returns a lazy plan, so it can " +
      "never release a cache it makes, and a conf write changes every " +
      "caller's setting"
    // 29 sites before the seven per-call caches were deleted
    val caches = codeHits("""\.cache\(\)|\.persist\(""")
    val bound = 22
    assert(caches.size <= bound,
      s"${caches.size} .cache()/.persist( sites in src/main, at most $bound " +
        s"allowed — $Item3:\n${caches.map(_._1).distinct.sorted.mkString("\n")}")
    // scoped stream sessions, q_join_skewed's newSession, the NANOS flag
    val allowed = Set("StreamingOps.scala", "JoinOps.scala", "Tables.scala")
    val writes = codeHits("""conf\.set\(""").filterNot(h => allowed(h._1))
    assert(writes.isEmpty,
      s"conf.set( outside ${allowed.mkString(", ")} — $Item3:\n" +
        writes.map { case (f, l) => s"$f: $l" }.mkString("\n"))
  }
}
