package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.core.BytesRange

/** FIXTURES.md F7 — storage-backend contract, mirrors
  * `storage/filesystem/.../FileSystemStorageTest.java` + `BytesRangeTest.java`. */
class FileSystemStorageSpec extends AnyFunSuite {

  private def withStorage(f: FileSystemStorage => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-storage")
    try f(new FileSystemStorage(dir))
    finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  private val chunk = 1024
  private val sizes = Seq(0, 1, chunk - 1, chunk, chunk + 1, 3 * chunk + 17)

  test("upload/fetch round trip across sizes; upload returns byte count") {
    withStorage { s =>
      sizes.foreach { n =>
        val data = Array.tabulate[Byte](n)(i => (i % 251).toByte)
        assert(s.uploadBytes(data, s"t/obj-$n") == n)
        assert(s.fetchBytes(s"t/obj-$n").toSeq == data.toSeq)
        assert(s.size(s"t/obj-$n") == n)
      }
    }
  }

  test("ranged fetch: start, mid, chunk-border span, last byte") {
    withStorage { s =>
      val data = Array.tabulate[Byte](3 * chunk + 17)(i => (i % 251).toByte)
      s.uploadBytes(data, "obj")
      def range(from: Long, to: Long): Seq[Byte] = s.fetchRangeBytes("obj", BytesRange(from, to)).toSeq
      assert(range(0, 9) == data.slice(0, 10).toSeq)
      assert(range(500, 1500) == data.slice(500, 1501).toSeq)
      assert(range(chunk - 1, chunk) == data.slice(chunk - 1, chunk + 1).toSeq)
      assert(range(data.length - 1, data.length - 1) == Seq(data.last))
      // to beyond EOF clamps
      assert(range(data.length - 5, data.length + 100) == data.takeRight(5).toSeq)
    }
  }

  test("ranged fetch beyond EOF errors; empty range is empty stream") {
    withStorage { s =>
      s.uploadBytes(Array[Byte](1, 2, 3), "obj")
      intercept[InvalidRange](s.fetchRange("obj", BytesRange(3, 10)))
      assert(s.fetchRangeBytes("obj", BytesRange.empty(1)).isEmpty)
    }
  }

  test("fetch of missing key errors; delete of missing key is a no-op") {
    withStorage { s =>
      intercept[ObjectKeyNotFound](s.fetch("nope"))
      s.delete("nope") // no-op
    }
  }

  test("upload overwrite replaces content atomically") {
    withStorage { s =>
      s.uploadBytes(Array[Byte](1, 1, 1), "k")
      s.uploadBytes(Array[Byte](2, 2), "k")
      assert(s.fetchBytes("k").toSeq == Seq[Byte](2, 2))
    }
  }

  test("delete prunes empty parent directories") {
    withStorage { s =>
      s.uploadBytes(Array[Byte](1), "a/b/c/obj")
      s.delete("a/b/c/obj")
      assert(s.listKeys("").isEmpty)
    }
  }

  test("listKeys by prefix, sorted") {
    withStorage { s =>
      s.uploadBytes(Array[Byte](1), "t1/p0/seg1.log")
      s.uploadBytes(Array[Byte](1), "t1/p0/seg1.rsm-manifest")
      s.uploadBytes(Array[Byte](1), "t2/p0/seg9.log")
      assert(s.listKeys("t1/") == Vector("t1/p0/seg1.log", "t1/p0/seg1.rsm-manifest"))
    }
  }

  test("listKeys hides in-flight upload temp files") {
    withStorage { s =>
      s.uploadBytes(Array[Byte](1), "t/p0/seg1.log")
      // Simulate an upload in progress: the temp file a crashed/concurrent
      // writer leaves before its atomic rename. Listings must not show it.
      val tmp = Files.createTempFile(s.rootPath.resolve("t/p0"), ".upload-", ".tmp")
      Files.write(tmp, Array[Byte](9, 9))
      assert(s.listKeys("") == Vector("t/p0/seg1.log"))
      Files.delete(tmp)
    }
  }

  test("listKeys is safe under concurrent upload/delete churn") {
    withStorage { s =>
      // Writers rename .upload-*.tmp files into place and delete() prunes
      // emptied parents while a reader walks — the exact race that made
      // Files.walk throw NoSuchFileException mid-iteration. 2s of churn
      // across 4 writer threads reproduced the crash reliably pre-fix.
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writers = (0 until 4).map { w =>
        new Thread(() => {
          var i = 0
          try while (!stop.get()) {
            val key = s"churn/w$w/d${i % 7}/obj$i"
            s.uploadBytes(Array[Byte](1, 2, 3), key)
            s.delete(key)
            i += 1
          } catch { case t: Throwable => failure.compareAndSet(null, t) }
        }, s"churn-writer-$w")
      }
      writers.foreach(_.start())
      // Deadline-tolerant shape (r13): a host can stall the whole JVM for
      // seconds. A minimum ITERATION count keeps the race coverage
      // meaningful when a stall eats the wall-clock budget, and the joins
      // are generous — a short join(5000) could expire during a stall and
      // leave a live writer racing the fixture's directory teardown
      // (DirectoryNotEmptyException in cleanup). Writers do bounded work
      // per loop and re-check `stop`, so they end promptly once the JVM is
      // scheduled again; a writer still alive after 300 s is hung, and the
      // test fails with a thread dump instead of hanging the suite.
      val deadline = System.nanoTime() + 2_000_000_000L
      var iters = 0
      try while (System.nanoTime() < deadline || iters < 50) {
        val keys = s.listKeys("churn/")
        assert(keys.forall(k => k.startsWith("churn/") && !k.contains(".upload-")))
        iters += 1
      } finally {
        stop.set(true)
        val joinBy = System.nanoTime() + 300_000_000_000L
        writers.foreach(w => w.join(math.max(1L, (joinBy - System.nanoTime()) / 1000000L)))
        if (writers.exists(_.isAlive)) {
          import scala.jdk.CollectionConverters._
          fail(s"${writers.count(_.isAlive)} churn writer(s) still alive after 300 s; threads:\n" +
            Thread.getAllStackTraces.asScala.map { case (t, st) =>
              s"${t.getName} ${t.getState}" + st.mkString("\n  at ", "\n  at ", "")
            }.mkString("\n"))
        }
      }
      assert(failure.get() == null, s"writer failed: ${failure.get()}")
    }
  }

  test("batched delete removes >1000 keys") {
    withStorage { s =>
      val keys = (0 until 1005).map(i => s"bulk/k$i")
      keys.foreach(k => s.uploadBytes(Array[Byte](1), k))
      s.deleteAll(keys)
      assert(s.listKeys("bulk/").isEmpty)
    }
  }

  test("reserved .upload-*.tmp basename is rejected as a key") {
    withStorage { s =>
      // listKeys hides the in-flight temp pattern, so accepting it as a
      // key would create an unlisted orphan invisible to retention/scrub.
      intercept[IllegalArgumentException](s.uploadBytes(Array[Byte](1), "t/.upload-x.tmp"))
      // read-side ops treat the reserved namespace as 'not an object'
      // (probing callers get nonexistence, not an error) — r10
      assert(!s.exists(".upload-1.tmp"))
      intercept[ObjectKeyNotFound](s.size("t/.upload-x.tmp"))
      intercept[ObjectKeyNotFound](s.fetch("t/.upload-x.tmp"))
      s.delete("t/.upload-x.tmp") // no-op, not an error
      s.uploadBytes(Array[Byte](1), "t/upload-x.tmp") // non-dot sibling is fine
      assert(s.listKeys("t/") == Vector("t/upload-x.tmp"))
    }
  }

  test("key escaping the root is rejected") {
    withStorage { s => intercept[IllegalArgumentException](s.uploadBytes(Array[Byte](1), "../escape")) }
  }

  test("ObjectKey layout: zero-padded offset and suffixes") {
    val k = ObjectKey.key("pre/", "topic", "tid", 3, 1234L, "seg-uuid", ObjectKey.Suffix.Log)
    assert(k == "pre/topic-tid/3/00000000000000001234-seg-uuid.log")
    assert(ObjectKey.allKeys("", "t", "id", 0, 0L, "u").map(_.split('.').last) ==
      Seq("log", "indexes", "rsm-manifest"))
  }

  test("BytesRange invariants") {
    assert(BytesRange(5, 4).isEmpty)
    assert(BytesRange(0, 9).size == 10)
    assert(BytesRange.ofFromPositionAndSize(10, 0).isEmpty)
    intercept[IllegalArgumentException](BytesRange(-1, 5))
    intercept[IllegalArgumentException](BytesRange(10, 5))
    assert(BytesRange(0, 10).intersects(BytesRange(10, 20)))
    assert(!BytesRange(0, 9).intersects(BytesRange(10, 20)))
  }
}
