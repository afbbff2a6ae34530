package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** [[Shared]]'s contract: what a pin keeps, and when it is let go. */
class SharedSpec extends SparkSpec {
  import spark.implicits._

  private def frame = spark.range(1, 21).selectExpr("id", "id * id AS sq")

  test("a pin made inside scope is gone after the scope, also when the body throws") {
    val before = persistedRdds
    val (n, during) = Shared.scope {
      val p = Shared.pin(frame)
      (p.count(), persistedRdds -- before)
    }
    assert(n == 20L && during.size == 1, s"pin stored ${during.size} RDDs")
    assert((persistedRdds & during).isEmpty, "scope left its pin stored")

    var thrown: Set[Int] = Set.empty
    intercept[IllegalStateException](Shared.scope {
      Shared.pin(frame)
      thrown = persistedRdds -- before
      throw new IllegalStateException("body fails")
    })
    assert(thrown.size == 1)
    assert((persistedRdds & thrown).isEmpty, "a throwing body left its pin stored")
  }

  test("release frees a pin at once, and the pin never recomputes before that") {
    val before = persistedRdds
    val calls = spark.sparkContext.longAccumulator("pin_evals")
    val counted = org.apache.spark.sql.functions.udf { (x: Long) => calls.add(1); x }
    val p = Shared.pin(frame.select(counted($"id").as("id")))
    val stored = persistedRdds -- before
    assert(stored.size == 1)
    assert(p.count() == 20L && p.agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0) == 210L)
    assert(calls.value == 20L, s"pinned frame re-ran its kernel: ${calls.value} evals")
    Shared.release(p)
    assert((persistedRdds & stored).isEmpty, "release left the pin stored")
  }

  test("a pin made outside any scope survives until released") {
    val before = persistedRdds
    val p = Shared.pin(frame)
    Shared.scope(Shared.pin(frame).count())
    val stored = persistedRdds -- before
    assert(stored.size == 1, "the unscoped pin must outlive an unrelated scope")
    assert(p.count() == 20L)
    Shared.release(p)
    assert((persistedRdds & stored).isEmpty)
  }

  test("a nested scope releases only its own pins") {
    val before = persistedRdds
    Shared.scope {
      val outer = Shared.pin(frame)
      val outerIds = persistedRdds -- before
      val innerIds = Shared.scope {
        Shared.pin(frame).count()
        persistedRdds -- before -- outerIds
      }
      assert(innerIds.size == 1)
      assert((persistedRdds & innerIds).isEmpty, "inner scope kept its pin")
      assert(outerIds.subsetOf(persistedRdds), "inner scope freed the outer pin")
      assert(outer.count() == 20L)
    }
    assert((persistedRdds -- before).isEmpty, "outer scope kept its pin")
  }

  /** The WARN (or worse) messages Spark's RDD classes log while `body`
    * runs, captured from the `org.apache.spark.rdd` logger tree. */
  private def rddWarnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("rdd-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger("org.apache.spark.rdd").asInstanceOf[Logger]
    logger.addAppender(capture)
    try body
    finally { logger.removeAppender(capture); capture.stop() }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("releasing a pin logs no WARN") {
    val before = persistedRdds
    val warnings = rddWarnings {
      Shared.scope(Shared.pin(frame).count())
      Shared.release(Shared.pin(frame))
    }
    assert((persistedRdds -- before).isEmpty, "a released pin stayed stored")
    assert(warnings.isEmpty, s"release logged: ${warnings.mkString("; ")}")
  }

  test("no source file but Shared.scala materializes or releases a frame itself") {
    val root = Paths.get("src/main/scala")
    val banned = Seq(".persist(", ".cache()", ".localCheckpoint(", ".unpersist(", "clearCache(")
    import scala.jdk.CollectionConverters._
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Shared.scala")
      .toSeq
    assert(files.size > 50, s"source tree not found under ${root.toAbsolutePath}")
    // plain text search: comments that name a banned call count too
    val hits = files.flatMap { (p: Path) =>
      banned.filter(Files.readString(p).contains).map(b => s"$p: $b")
    }
    assert(hits.isEmpty, "materialize and release through graft.Shared only:\n" +
      hits.mkString("\n"))
  }
}
