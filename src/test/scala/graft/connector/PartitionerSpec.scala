package graft.connector

import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the greedy packer — the invariants mirror the
  * reference's `_partition_batches` semantics (dask_snowflake/core.py:183-195)
  * and its asserted tolerances (tests/test_core.py:294-319). Cases come
  * from a fixed-seed generator (seeded randomness in the engine itself is
  * banned, but deterministic test-case generation is fine). */
class PartitionerSpec extends AnyFunSuite {

  private def cases: Seq[(List[Long], Long)] = {
    val rnd = new scala.util.Random(42)
    (0 until 300).map { _ =>
      val n = rnd.nextInt(40)
      val sizes = List.fill(n)(rnd.nextLong(500))
      val target = 1L + rnd.nextLong(1000)
      (sizes, target)
    }
  }

  test("pack covers all indices in order, no empty groups") {
    cases.foreach { case (sizes, target) =>
      val groups = Partitioner.pack(sizes, target)
      assert(groups.forall(_.nonEmpty))
      assert(groups.flatten == sizes.indices.toList)
    }
  }

  test("every group fits the target unless it is a single oversize batch") {
    cases.foreach { case (sizes, target) =>
      Partitioner.pack(sizes, target).foreach { g =>
        val total = g.map(sizes(_)).sum
        assert(total <= target || g.length == 1,
          s"group $g total $total exceeds target $target")
      }
    }
  }

  test("packing is greedy: the next batch would not have fit") {
    cases.foreach { case (sizes, target) =>
      Partitioner.pack(sizes, target).sliding(2).foreach {
        case Seq(g1, g2) =>
          val total = g1.map(sizes(_)).sum
          assert(total + sizes(g2.head) > target,
            s"batch ${g2.head} should have joined the previous group")
        case _ =>
      }
    }
  }

  test("exactly-one-of validation (core.py:164-167)") {
    intercept[IllegalArgumentException] {
      Partitioner.resolveSpec(Some(4), Some("100 MiB"))
    }
    // neither → size mode at the 100 MiB default (core.py:259-260)
    assert(Partitioner.resolveSpec(None, None) ===
      ((None, Some(100L * 1024 * 1024))))
    assert(Partitioner.resolveSpec(Some(4), None) === ((Some(4), None)))
    intercept[IllegalArgumentException] { Partitioner.resolveSpec(Some(0), None) }
    // a size that parses to zero bytes would divide by zero in size mode
    val e = intercept[IllegalArgumentException] {
      Partitioner.resolveSpec(None, Some("0 KiB"))
    }
    assert(e.getMessage.contains("0 KiB"), e.getMessage)
  }

  test("parseBytes handles dask-style size strings") {
    assert(Partitioner.parseBytes("100 MiB") == 100L * 1024 * 1024)
    assert(Partitioner.parseBytes("2 MiB") == 2L * 1024 * 1024)
    assert(Partitioner.parseBytes("1.5 GiB") == (1.5 * 1024 * 1024 * 1024).toLong)
    assert(Partitioner.parseBytes("100MB") == 100000000L)
    assert(Partitioner.parseBytes("1024") == 1024L)
    intercept[IllegalArgumentException] { Partitioner.parseBytes("10 parsecs") }
  }

  test("parseBytes does not depend on the default locale") {
    // Turkish lowercases "I" to a dotless "ı", so "MIB" became "mıb"
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      assert(Partitioner.parseBytes("100 MIB") == 100L * 1024 * 1024)
      assert(Partitioner.parseBytes("2 KIB") == 2048L)
    } finally java.util.Locale.setDefault(saved)
  }
}
