package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TokenPipeline

/** The artifact registry: single-flight fills, failure handling, eviction
  * scopes derived for every declared artifact, and the warmup fill list's
  * completeness. Each test works in its own child session, so keys other
  * suites left in the shared session neither help nor get in the way.
  */
class ArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  test("eight concurrent first callers of one cold key share one build") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val got = withPool(8) { implicit ec =>
      val calls = (1 to 8).map(_ => Future {
        go.await()
        TokenPipeline.cache(s, "/artifact-spec/cold") {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open while the others arrive
          spark.range(1).toDF()
        }
      })
      go.countDown()
      Await.result(Future.sequence(calls), 1.minute)
    }
    try {
      assert(builds.get === 1)
      assert(got.forall(_ eq got.head))
    } finally Caches.clear(s)
  }

  test("a build that throws leaves no entry and the next call rebuilds") {
    val s = spark.newSession()
    val key = GraftBridge.sessionKey(s) + "#/artifact-spec/fails"
    val builds = new AtomicInteger
    def call(fail: Boolean): DataFrame = TokenPipeline.cache(s, "/artifact-spec/fails") {
      builds.incrementAndGet()
      if (fail) throw new IllegalStateException("build failed")
      spark.range(1).toDF()
    }
    try {
      assert(intercept[IllegalStateException](call(fail = true)).getMessage === "build failed")
      assert(!TokenPipeline.cache.keys.contains(key))
      val df = call(fail = false)
      assert(builds.get === 2)
      assert(TokenPipeline.cache.keys.contains(key))
      assert(call(fail = true) eq df, "a filled key is a hit: no build runs")
      assert(builds.get === 2)
    } finally Caches.clear(s)
  }

  test("the registry holds every artifact declared in src/main, with its class") {
    val Decl = """"(\w+\.\w+)",\s*Artifact\.(Index|Result)""".r
    val declared = TestSpark.mainSources.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      Decl.findAllMatchIn(src).map(m => m.group(1) -> m.group(2))
    }
    assert(declared.size >= 35)
    assert(Caches.registry.map(a => a.name -> a.kind.toString).sorted === declared.sorted)
  }

  test("clear, clearDir and clearResultMemos evict exactly their scope in every registered artifact") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val (dirA, dirA2, dirB) = ("/artifact-spec/a", "/artifact-spec/a2", "/artifact-spec/b")
    val k1 = GraftBridge.sessionKey(s1)
    val k2 = GraftBridge.sessionKey(s2)
    val value = spark.range(1).toDF()
    val registry = Caches.registry.map(_.asInstanceOf[Artifact[Any]])
    def fill(): Unit = registry.foreach { a =>
      a(s1, dirA)(value); a(s1, dirA, "p")(value); a(s1, dirA2)(value)
      a(s1, dirB)(value); a(s2, dirA)(value)
    }
    def held(a: Artifact[Any]): Set[String] =
      a.keys.filter(k => k.startsWith(k1 + "#") || k.startsWith(k2 + "#")).toSet
    val all = Set(s"$k1#$dirA", s"$k1#$dirA#p", s"$k1#$dirA2", s"$k1#$dirB", s"$k2#$dirA")
    try {
      fill()
      assert(Caches.indexKeys(s1, dirA) === registry.filter(_.kind == Artifact.Index)
        .flatMap(a => Seq(s"$k1#$dirA", s"$k1#$dirA#p")).toSet)
      Caches.clearDir(s1, dirA)
      registry.foreach(a => assert(held(a) === all - s"$k1#$dirA" - s"$k1#$dirA#p",
        s"clearDir: ${a.name}"))
      fill()
      Caches.clearResultMemos(s1)
      registry.foreach { a =>
        val want = if (a.kind == Artifact.Result) Set(s"$k2#$dirA") else all
        assert(held(a) === want, s"clearResultMemos: ${a.name}")
      }
      fill()
      Caches.clear(s1)
      registry.foreach(a => assert(held(a) === Set(s"$k2#$dirA"), s"clear: ${a.name}"))
    } finally { Caches.clear(s1); Caches.clear(s2) }
  }

  test("Bench's INDEX fill leaves no INDEX artifact of the dir unfilled") {
    // not filled by design:
    //  - cappedShingles: its suite consumers (q26, q59) pass maxShingleDf = None;
    //  - verbatimReps: built only when hasVerbatimDups says the corpus has
    //    enough exact duplicates (the gate itself is filled);
    //  - table schemas: keyed by table path, not dir (each table's load is
    //    in the fill list).
    val excluded = Set("Dedup.cappedCache", "Dedup.repsCache", "Tables.schemaMemo")
    val s: SparkSession = spark.newSession()
    val key = GraftBridge.sessionKey(s) + "#" + TestSpark.Sf
    try {
      withPool(4) { implicit ec =>
        Await.result(Future.sequence(Bench.indexFills(s, TestSpark.Sf).map(f => Future(f()))),
          10.minutes)
      }
      val unfilled = Caches.registry
        .filter(a => a.kind == Artifact.Index && !excluded(a.name))
        .filterNot(_.keys.exists(k => k == key || k.startsWith(key + "#")))
        .map(_.name)
      assert(unfilled === Nil)
      // and every filled relation holds its blocks: the fill persisted it,
      // or its build staged it with Stage.now
      val unkept = for {
        a <- Caches.registry if a.kind == Artifact.Index
        (k, df: org.apache.spark.sql.Dataset[_]) <- a.filled
        if (k == key || k.startsWith(key + "#")) && !Stage.held(df.toDF())
      } yield a.name
      assert(unkept === Nil)
    } finally Caches.clear(s)
  }
}
