package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, Row}
import graft.sources.Scratch

class SparkEntrySpec extends SparkSpec {

  test("entry flagship query returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle belongs to a query; names are stable q-prefixed keys") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os -- qs}")
    assert(qs.forall(_.matches("q\\d{2,3}[a-z]?_[a-z0-9_]+")), qs.mkString(","))
  }

  test("every query runs and yields rows at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
  }

  test("streamRows: batch ids follow the chunks; a failing sink leaves no query and no checkpoint") {
    import spark.implicits._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    var ckpt: String = null
    var qid: java.util.UUID = null
    def run(failAt: Long): Unit =
      SparkEntry.streamRows(spark, (1L to 9L).toSeq) { (in, cp) =>
        ckpt = cp
        val q = in.writeStream.option("checkpointLocation", cp)
          .foreachBatch { (b: Dataset[Row], id: Long) =>
            if (id == failAt) throw new IllegalStateException(s"sink fails in batch $id")
            seen.add((id, b.count()))
            ()
          }
          .start()
        qid = q.id
        q
      }
    run(failAt = -1L)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == Seq((0L, 4L), (1L, 4L), (2L, 1L)))
    assert(!new java.io.File(ckpt).exists())

    seen.clear()
    val e = intercept[Exception](run(failAt = 1L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("sink fails in batch 1")))
    assert(seen.asScala.toSeq == Seq((0L, 4L)))
    assert(!spark.streams.active.exists(_.id == qid), "query left running")
    assert(!new java.io.File(ckpt).exists(), s"checkpoint $ckpt left behind")
  }

  test("ensureDerivedDir publishes nothing when build throws; the next call rebuilds") {
    import spark.implicits._
    val data = Scratch.dir("graft_derived_spec").toString
    Seq((1L, "alpha beta")).toDF("doc_id", "text")
      .write.parquet(s"$data/documents.parquet")
    val name = s"spec_derived_${System.nanoTime}"
    var builds = 0
    intercept[IllegalStateException] {
      SparkEntry.ensureDerivedDir(spark, data, name) { stage =>
        builds += 1
        Files.write(Paths.get(stage, "half"), Array[Byte](1))
        throw new IllegalStateException("build failed")
      }
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val mine = (f: java.io.File) => f.getName.startsWith(s"graft_${name}_")
    assert(tmp.listFiles().filter(mine).forall(_.getName.endsWith("_stage")),
      "a failed build published its dir")
    val out = SparkEntry.ensureDerivedDir(spark, data, name) { stage =>
      builds += 1
      Files.write(Paths.get(stage, "whole"), Array[Byte](2))
    }
    assert(builds == 2)
    assert(new java.io.File(out, "whole").exists() && !new java.io.File(out, "half").exists())
    assert(SparkEntry.ensureDerivedDir(spark, data, name)(_ => builds += 1) == out)
    assert(builds == 2, "a published dir was rebuilt")
    assert(tmp.listFiles().filter(mine).map(_.toString).toSeq == Seq(out))
    Scratch.deleteRecursively(new java.io.File(out))
  }
}
