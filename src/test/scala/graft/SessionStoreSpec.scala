package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[SessionStore]]: build-once and release contracts, the failure
  * paths (throwing build, clear racing a build, nested frame builds),
  * session scoping, and the leak guard over every migrated family. */
class SessionStoreSpec extends AnyFunSuite with SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def scratchRoot = Paths.get(Sessions.scratchDir
    .getOrElse(System.getProperty("java.io.tmpdir")))

  /** Names of the scratch-root children starting with `prefix`. */
  private def scratchDirs(prefix: String = ""): Set[String] = {
    val ls = Files.list(scratchRoot)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).toSet
    finally ls.close()
  }

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("a throwing artifact build leaves no dir under the scratch root, and the next call rebuilds") {
    var failedDir: String = null
    val e = intercept[IllegalStateException] {
      SessionStore.artifact(spark, d, "spec/fail") { dir =>
        failedDir = dir
        Files.write(Paths.get(dir, "half"), "x".getBytes)
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(failedDir != null && !Files.exists(Paths.get(failedDir)))
    assert(scratchDirs("graft-spec-fail").isEmpty)
    var builds = 0
    val dir = SessionStore.artifact(spark, d, "spec/fail") { dir =>
      builds += 1
      Files.write(Paths.get(dir, "ok"), "x".getBytes)
    }
    assert(dir != failedDir && Files.exists(Paths.get(dir, "ok")))
    assert(SessionStore.artifact(spark, d, "spec/fail")(_ => builds += 1) ==
      dir)
    assert(builds == 1, "a built artifact is served, never rebuilt")
    SessionStore.drop("spec")
    assert(scratchDirs("graft-spec-fail").isEmpty)
  }

  test("clearAll racing an in-flight build waits for it, then deletes it") {
    val building = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val build = Future {
      SessionStore.artifact(spark, d, "spec/race") { dir =>
        building.countDown()
        finish.await()
        // the clear has started by now: the dir must still be ours
        Files.write(Paths.get(dir, "data"), "x".getBytes)
      }
    }
    building.await()
    val clear = Future(SessionStore.clearAll())
    Thread.sleep(300)
    assert(!clear.isCompleted, "clearAll must wait for the in-flight build")
    finish.countDown()
    val dir = Await.result(build, 30.seconds)
    Await.result(clear, 30.seconds)
    assert(!Files.exists(Paths.get(dir)), "the cleared build's dir survived")
    assert(scratchDirs("graft-spec-race").isEmpty, "orphaned build dir")
  }

  test("a frame builder that nests other frame calls does not throw Recursive update") {
    val outer = SessionStore.frame(spark, d, "spec/outer") {
      (0 until 64).map { i =>
        SessionStore.frame(spark, d, s"spec/inner$i")(spark.range(i + 1).toDF())
      }.reduce(_ union _)
    }
    assert(outer.count() == (1 to 64).sum)
    assert(SessionStore.frame(spark, d, "spec/outer")(sys.error("rebuilt")) eq
      outer)
    SessionStore.drop("spec")
    assert(!cached(outer))
  }

  test("drop(x) removes x's frames and dirs and leaves its siblings") {
    val x = SessionStore.frame(spark, d, "x")(spark.range(3).toDF())
    val xy = SessionStore.frame(spark, d, "x/y")(spark.range(4).toDF())
    val xDir = SessionStore.artifact(spark, d, "x/dir")(_ => ())
    val xz = SessionStore.frame(spark, d, "xz")(spark.range(5).toDF())
    val wDir = SessionStore.artifact(spark, d, "w")(_ => ())
    assert(Seq(x, xy, xz).forall(cached))
    SessionStore.drop("x")
    assert(!cached(x) && !cached(xy))
    assert(!Files.exists(Paths.get(xDir)))
    assert(cached(xz), "a name sharing x's prefix is not in x's family")
    assert(Files.exists(Paths.get(wDir)))
    assert(SessionStore.frame(spark, d, "xz")(sys.error("rebuilt")) eq xz)
    SessionStore.drop("xz", "w")
    assert(!cached(xz) && !Files.exists(Paths.get(wDir)))
  }

  test("two sessions over one dir get distinct entries; a drop releases a name in both and leaves the sibling") {
    val sA = spark.newSession()
    val sB = spark.newSession()
    val a = graft.query.FixtureCorpus.store(sA, d)
    val b = graft.query.FixtureCorpus.store(sB, d)
    assert(a ne b)
    assert(a.sparkSession eq sA)
    assert(b.sparkSession eq sB)
    assert(graft.query.FixtureCorpus.store(sA, d) eq a)
    assert(graft.query.FixtureCorpus.store(sB, d) eq b)
    val jA = graft.ingest.Validation.stagedJsonl(sA, d)
    val jB = graft.ingest.Validation.stagedJsonl(sB, d)
    assert(jA != jB)
    SessionStore.drop("jsonl")
    assert(!Files.exists(Paths.get(jA)) && !Files.exists(Paths.get(jB)))
    assert(graft.query.FixtureCorpus.store(sA, d) eq a)
    assert(graft.query.FixtureCorpus.store(sB, d) eq b)
    SessionStore.drop("fixture")
    assert(graft.query.FixtureCorpus.store(sA, d) ne a)
    SessionStore.drop("fixture")
  }

  test("leak guard: clearAll releases every cached frame and dir of every migrated family") {
    SessionStore.clearAll()
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    // engine scratch only: the scratch root is also java.io.tmpdir, where
    // the JVM and Spark drop their own files (native libs, artifacts)
    val dirsBefore = scratchDirs("graft-")
    graft.ext.DedupOps.warm(spark, d)
    graft.ext.DedupOps.windowIndexDir(spark, d)
    graft.ext.SimilarityOps.ivfPqKnnServed(spark, d).count()
    graft.operators.Sketches.censusDir(spark, d)
    graft.ext.TextOps.dsirCountsDeltaDir(spark, d)
    graft.query.FixtureCorpus.store(spark, d).count()
    graft.query.EmailOps.realIngest(spark, d).count()
    graft.ingest.Validation.stagedJsonl(spark, d)
    graft.streaming.StreamingOps.stageFile(spark, d, "events.parquet")
    graft.ext.Multimodal.cachedSignatures(spark, d).count()
    graft.graph.GraphOps.warm(spark, d)
    val built = scratchDirs("graft-") -- dirsBefore
    assert(built.size >= 6, s"the warms built too few artifacts: $built")
    assert((sc.getPersistentRDDs.keySet -- rddsBefore).nonEmpty)
    SessionStore.clearAll()
    assert(scratchDirs("graft-") -- dirsBefore == Set.empty,
      "artifact dirs survived clearAll")
    // RDDs persisted inside a build and never returned (localCheckpoint)
    // are unreachable garbage once the build ends: Spark's registry
    // holds them weakly, so let GC settle before asserting
    def leaked = sc.getPersistentRDDs.keySet -- rddsBefore
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(leaked.isEmpty, s"persisted RDDs survived clearAll: " +
      leaked.toSeq.map(id => sc.getPersistentRDDs(id).toDebugString.take(300)))
  }
}
