package graftbench

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** The generated store is the `fed-sup` and `fed-embed` input: it must be a
  * pure function of the seed and exercise the merge's keep-first priority.
  */
class CoraStoreSpec extends AnyFunSuite {
  private val root = new File("target/cora-store-spec")
  private def gen(name: String, seed: Long): (File, CoraStore.Store) = {
    val d = new File(root, name)
    Files.rm(d)
    (d, CoraStore.generate(d, "3", seed))
  }
  private def lines(d: File, name: String): Seq[String] = {
    val s = Source.fromFile(new File(d, name), "UTF-8")
    try s.getLines().toVector finally s.close()
  }

  private lazy val (dirA, storeA) = gen("a", 11L)

  test("the same seed gives byte-identical files; another seed does not") {
    val (dirB, _) = gen("b", 11L)
    val (dirC, _) = gen("c", 12L)
    assert(Files.tree(dirA).size == 16)
    assert(Files.sameBytes(dirA, dirB))
    assert(!Files.sameBytes(dirA, dirC))
  }

  test("centralstore attribute ids overlap the localstore, so keep-first has work") {
    storeA.pids.foreach { p =>
      val local = lines(dirA, s"3_attributes_$p").map(_.takeWhile(_ != '\t').toLong).toSet
      val central = lines(dirA, s"3_centralstore_attributes_$p").map(_.takeWhile(_ != '\t').toLong)
      assert(central.exists(local), s"partition $p: no overlap")
      assert(central.exists(id => !local(id)), s"partition $p: no foreign endpoint")
    }
    assert(storeA.nodeRowsKept < storeA.nodeRowsScanned)
  }

  test("raw formats: tab-separated id, 1433 binary features, label; whitespace edges") {
    val row = lines(dirA, "3_attributes_0").head.split('\t')
    assert(row.length == 1 + 1433 + 1)
    assert(row.slice(1, 1434).forall(f => f == "0" || f == "1"))
    assert(CoraStore.Labels.contains(row.last))
    val edge = lines(dirA, "3_0").head.split(' ')
    assert(edge.length == 2 && edge.forall(_.forall(_.isDigit)))
  }

  test("node ids are non-dense and every cut edge crosses its partition's border") {
    val ids = storeA.allIds
    assert(ids.max > 10L * ids.size)
    storeA.pids.zip(storeA.localIds).foreach { case (p, local) =>
      val own = local.toSet
      lines(dirA, s"3_centralstore_$p").map(_.split(' ').map(_.toLong)).foreach { e =>
        assert(own(e(0)) != own(e(1)), s"partition $p: ${e.mkString(" ")} is not a cut edge")
      }
    }
  }
}
