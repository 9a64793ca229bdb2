package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The cluster-deployability contract of the ANN index/scratch
  * lifecycle (round-9 verdict item 1): every scratch path resolves
  * through a Hadoop `FileSystem` handle — the abstraction that exists
  * on every scheme executors can reach — never through driver-local
  * java.nio. Pinned here with an EXPLICIT `file:`-scheme handle (the
  * one scheme this zero-egress container has; an `hdfs://`/`s3a://`
  * root differs only in the conf value), plus the fail-fast half of
  * the contract: an unusable scratch scheme must error at scratchDir,
  * never silently degrade to a path only the driver can see. */
class FsScratchSpec extends AnyFunSuite {

  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  private def withScratchConf[A](value: String)(body: => A): A = {
    s.conf.set("spark.graft.scratch.dir", value)
    try body
    finally s.conf.unset("spark.graft.scratch.dir")
  }

  private def localRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-fs-root-").toString

  test("scratchDir resolves the configured file:-scheme root through " +
      "FileSystem.get, creates a .graft-scratch child there, and " +
      "deleteScratch reaps the shared root with the last child") {
    val root = localRoot()
    withScratchConf(s"file:$root") {
      val p = Similarity.scratchDir(s, "graft-fsspec-")
      assert(p.toUri.getScheme === "file",
        s"scratch path must be FS-qualified, got $p")
      assert(p.toUri.getPath.startsWith(root),
        s"scratch must live under the configured root $root, got $p")
      assert(p.getParent.getName === ".graft-scratch")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      assert(fs.exists(p), "scratchDir must have created the dir")
      Similarity.deleteScratch(s, p)
      assert(!fs.exists(p), "lifecycle dir must be gone")
      assert(!fs.exists(p.getParent),
        ".graft-scratch root must be reaped once its last child goes")
    }
  }

  test("an unusable scratch scheme fails fast at scratchDir — never a " +
      "silent fallback to a driver-local tmpdir") {
    withScratchConf("nosuchscheme://bucket/scratch") {
      intercept[Exception] { Similarity.scratchDir(s, "graft-bad-") }
    }
  }

  test("IVF build/probe lifecycle (train -> hive cell= index write -> " +
      "partition-pruned probe -> teardown) runs green through an " +
      "explicit file:-scheme FS handle") {
    val root = localRoot()
    withScratchConf(s"file:$root") {
      val rows = Similarity.ivfIndexedPlanted(s, sf, n = 3).collect()
      assert(rows.length === 3)
      rows.foreach { r =>
        assert(r.getInt(2) === 1, s"planted copy must probe back at rank 1: $r")
        assert(r.getBoolean(3), s"planted copy must come back exact: $r")
      }
      val hroot = new org.apache.hadoop.fs.Path(s"file:$root/.graft-scratch")
      val fs = hroot.getFileSystem(s.sessionState.newHadoopConf())
      assert(!fs.exists(hroot),
        "lifecycle teardown must leave no scratch litter under the root")
    }
  }

  test("IVF compaction lifecycle (base index -> touched-cell merge -> " +
      "dual-lane probe) runs green and rebuild-equivalent through an " +
      "explicit file:-scheme FS handle") {
    val root = localRoot()
    withScratchConf(s"file:$root") {
      val rows = Similarity.ivfCompactManifestPlanted(s, sf, n = 3).collect()
      assert(rows.length === 3)
      rows.foreach { r =>
        assert(r.getBoolean(3), s"planted copy must come back exact: $r")
        assert(r.getBoolean(4), s"compaction must equal rebuild: $r")
      }
      val hroot = new org.apache.hadoop.fs.Path(s"file:$root/.graft-scratch")
      val fs = hroot.getFileSystem(s.sessionState.newHadoopConf())
      assert(!fs.exists(hroot),
        "lifecycle teardown must leave no scratch litter under the root")
    }
  }
}
