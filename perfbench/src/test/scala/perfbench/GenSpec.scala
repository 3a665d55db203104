package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's only source of inputs: a seed must
  * always give the same bytes, and another seed other bytes.
  */
class GenSpec extends AnyFunSuite {

  private def fingerprint(seed: Long): String = {
    val g = new Gen(seed)
    val batches = (0 until 2).map(i => g.batch(i, Gen.T0 + i * Gen.BatchSpanSec, Gen.BatchSpanSec))
    Gen.digest(
      batches.iterator.flatMap(_.envelopes.iterator.flatMap(e =>
        Iterator(e.exporter.getBytes("UTF-8"), BigInt(e.seq).toByteArray, e.data))) ++
        batches.iterator.map(_.expected.toString.getBytes("UTF-8")) ++
        g.metadataRows.iterator.map(_.productIterator.map {
          case a: Array[Byte] => Gen.hex(a)
          case x => x.toString
        }.mkString("|").getBytes("UTF-8")) ++
        g.networks.iterator.map(_.toString.getBytes("UTF-8")) ++
        g.consoleMix(64, Gen.T0, 4 * 86400L, stream = 1L).iterator.map(_.toString.getBytes("UTF-8")) ++
        g.documents(300).iterator.map(_.toString.getBytes("UTF-8")))
  }

  test("the same seed gives byte-identical inputs") {
    assert(fingerprint(7L) == fingerprint(7L))
  }

  test("another seed gives other inputs") {
    assert(fingerprint(7L) != fingerprint(8L))
  }

  test("every batch carries the injected drops and the batch's flows") {
    val b = new Gen(3L).batch(0, Gen.T0, Gen.BatchSpanSec)
    assert(b.expected.drops == Gen.InjectedDrops)
    assert(math.abs(b.expected.flows - Gen.FlowsPerBatch) < 100)
    assert(b.expected.keptAfterLimit < b.expected.flows, "the rate limit must bite")
    assert(b.expected.stored < b.expected.keptAfterLimit, "enrichment must drop flows")
  }
}
