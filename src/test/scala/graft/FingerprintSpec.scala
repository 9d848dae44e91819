package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM invariants for the per-dataset memoization (no Spark): cache
  * hits on an unchanged fingerprint, recompute + eviction hook on change,
  * and a hook failure must not block the rebuild. */
class FingerprintSpec extends AnyFunSuite {

  private def tmpData(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("fp_spec")
    java.nio.file.Files.write(d.resolve("part-0.parquet"), "abc".getBytes)
    d
  }

  test("memo caches per fingerprint and recomputes when the data changes") {
    val d = tmpData()
    var computes = 0
    def get() = Fingerprint.memo("fp_spec_a", d.toString) {
      computes += 1; java.lang.Integer.valueOf(computes)
    }
    assert(get().intValue == 1 && get().intValue == 1, "second call is a hit")
    // change the content fingerprint (size changes — mtime alone can be
    // too coarse on filesystems with second resolution)
    java.nio.file.Files.write(d.resolve("part-0.parquet"), "abcdef".getBytes)
    assert(get().intValue == 2, "changed fingerprint must recompute")
    assert(get().intValue == 2)
  }

  test("memoEvict runs the release hook on the superseded value only") {
    val d = tmpData()
    val evicted = scala.collection.mutable.ArrayBuffer[String]()
    var v = 0
    def get() = Fingerprint.memoEvict[String]("fp_spec_b", d.toString,
        old => evicted += old) {
      v += 1; s"v$v"
    }
    assert(get() == "v1" && get() == "v1" && evicted.isEmpty,
      "no eviction while the fingerprint is stable")
    java.nio.file.Files.write(d.resolve("part-0.parquet"), "xyzw".getBytes)
    assert(get() == "v2")
    assert(evicted.toSeq == Seq("v1"), "exactly the replaced value is released")
  }

  test("a memo body may memoise other labels; a replaced value's hook runs once") {
    val d = tmpData()
    val evicted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val inner = (0 until 64).map(i => s"i$i")
    val v = new java.util.concurrent.atomic.AtomicInteger()
    def get() = Fingerprint.memoEvict[String]("fp_spec_outer", d.toString,
        old => evicted.add(old)) {
      val got = inner.map(s => Fingerprint.memo(s"fp_spec_inner_$s", d.toString)(s))
      s"v${v.incrementAndGet()}:" + got.mkString(",")
    }
    val all = inner.mkString(",")
    assert(get() == s"v1:$all" && get() == s"v1:$all" && evicted.isEmpty)
    java.nio.file.Files.write(d.resolve("part-0.parquet"), "changed".getBytes)
    // eight concurrent callers after the change: one recompute, one release
    val callers = (0 until 8).map(_ => new java.util.concurrent.FutureTask(() => get()))
    callers.foreach(t => new Thread(t).start())
    assert(callers.map(_.get()).toSet == Set(s"v2:$all"))
    assert(evicted.toArray.toSeq == Seq(s"v1:$all"))
  }

  test("a throwing eviction hook does not block the rebuild") {
    val d = tmpData()
    var v = 0
    def get() = Fingerprint.memoEvict[String]("fp_spec_c", d.toString,
        _ => sys.error("dead session")) {
      v += 1; s"v$v"
    }
    assert(get() == "v1")
    java.nio.file.Files.write(d.resolve("part-0.parquet"), "changed!".getBytes)
    assert(get() == "v2", "rebuild proceeds despite the hook throwing")
  }
}
