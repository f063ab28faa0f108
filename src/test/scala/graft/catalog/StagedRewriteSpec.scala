package graft.sources.catalog

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The one stage-and-publish tail of the catalog's data rewrites: parts
  * publish under the caller's names in part-name order, and the staging
  * dir is gone however the rewrite ends. Pure driver-side — no
  * SparkSession.
  */
class StagedRewriteSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def touch(p: Path, bytes: Int = 0): Unit = {
    val out = fs.create(p, true)
    try out.write(new Array[Byte](bytes)) finally out.close()
  }

  test("parts publish in part-name order under the caller's names; the staging dir goes") {
    val d = new Path(Files.createTempDirectory("stagedspec_").toUri)
    var staged: Path = null
    val moved = StagedRewrite(fs, d, "fold") { (token, tmp) =>
      staged = tmp
      assert(tmp.getName === s"_fold_$token" && StagedRewrite.isStagingDir(tmp.getName))
      val pd = new Path(tmp, "__graft_fpid=3")
      // part sizes identify the parts after they move
      Seq("part-00002-x.c000.parquet" -> 2, "part-00000-x.c000.parquet" -> 0,
        "_SUCCESS" -> 1).foreach { case (n, len) => touch(new Path(pd, n), len) }
      StagedRewrite.partitions(fs, tmp, "__graft_fpid").flatMap { case (v, dir) =>
        StagedRewrite.publish(fs, d, dir)((_, j) => s"fold-$token-$v-$j.parquet")
      }
    }
    assert(moved.size === 2 && moved.forall(_.matches("fold-[0-9a-f-]{12}-3-[01]\\.parquet")))
    assert(moved.map(n => fs.getFileStatus(new Path(d, n)).getLen) === Seq(0L, 2L))
    assert(!fs.exists(staged), "staging dir left behind")
  }

  test("a failed rewrite still deletes its staging dir") {
    val d = new Path(Files.createTempDirectory("stagedspec_").toUri)
    var staged: Path = null
    intercept[IllegalStateException] {
      StagedRewrite(fs, d, "rename") { (_, tmp) =>
        staged = tmp
        touch(new Path(tmp, "part-00000.parquet"))
        throw new IllegalStateException("write failed")
      }
    }
    assert(staged != null && !fs.exists(staged))
    assert(StagedRewrite.Kinds.forall(k => StagedRewrite.isStagingDir(s"_${k}_0123")))
    assert(!StagedRewrite.isStagingDir("_graft_dv") && !StagedRewrite.isStagingDir("_temporary"))
  }
}
