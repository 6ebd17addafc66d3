package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class BoardSpec extends AnyFunSuite {

  test("the slice resolves to registered queries") {
    assert(Board.queries.map(q => Board.short(q.name)).toSet == Board.Slice.toSet)
  }

  test("the row fingerprint ignores row order and sees every value") {
    val a = Array(Row(1, "x", 0.1 + 0.2), Row(2, null, Seq(1.0, 2.0)))
    assert(Board.fingerprint(a) == Board.fingerprint(a.reverse))
    assert(Board.fingerprint(a)._1 == 2)
    assert(Board.fingerprint(a) != Board.fingerprint(Array(Row(1, "x", 0.3), Row(2, "y", Seq(1.0)))))
    // doubles compare at 9 significant digits
    assert(Board.fingerprint(Array(Row(0.1 + 0.2))) == Board.fingerprint(Array(Row(0.3))))
  }
}
