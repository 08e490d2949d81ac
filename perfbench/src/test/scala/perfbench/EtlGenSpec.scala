package perfbench

import org.scalatest.funsuite.AnyFunSuite

class EtlGenSpec extends AnyFunSuite {
  private val sizes = EtlGen.Sizes(small = 5, large = 1, largeBytes = 64 << 10)

  test("the same seed gives byte-identical payloads and expectations") {
    val a = EtlGen.routes(7L, sizes)
    val b = EtlGen.routes(7L, sizes)
    assert(a.map(_.id) == b.map(_.id))
    a.zip(b).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(x.body, y.body), x.id)
      assert(x.expected == y.expected, x.id)
    }
    assert(EtlGen.toml("https://127.0.0.1:1", a) == EtlGen.toml("https://127.0.0.1:1", b))
  }

  test("a different seed gives different payloads") {
    val a = EtlGen.routes(7L, sizes).filter(_.expected.outcome == "ok")
    val b = EtlGen.routes(8L, sizes).filter(_.expected.outcome == "ok")
    a.zip(b).foreach { case (x, y) =>
      assert(!java.util.Arrays.equals(x.body, y.body), x.id)
      assert(x.expected.hash != y.expected.hash, x.id)
    }
  }

  test("every envelope shape and every fail-soft outcome is generated") {
    val rs = EtlGen.routes(1L, sizes)
    assert(rs.map(_.id.drop(4)).toSet ==
      Set("list", "struct", "noroot", "nested_sparse", "bytes", "empty", "http404", "http500", "templated"))
    assert(rs.map(_.expected.outcome).toSet == Set("ok", "empty", "http_404", "http_500", "templated"))
    val large = rs.find(_.id.startsWith("l00")).get
    assert(large.body.length >= (64 << 10))
    assert(rs.find(_.id.endsWith("struct")).get.expected.rows == 1)
  }
}
