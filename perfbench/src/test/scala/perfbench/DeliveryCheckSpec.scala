package perfbench

import org.scalatest.funsuite.AnyFunSuite

class DeliveryCheckSpec extends AnyFunSuite {
  private val cols = Set("k", "ver", "qty", "status")
  private val expected = Map[Long, Map[String, Any]](
    1L -> Map("k" -> 1L, "ver" -> 3L, "qty" -> 5.0, "status" -> "open"),
    2L -> Map("k" -> 2L, "ver" -> 1L, "qty" -> 7.0, "status" -> "done"))

  private def row(k: Long, ver: Long, qty: Double, status: String, extra: String = "") =
    s"""{"Operation":"Upsert","Item":{"k":$k,"ver":$ver,"qty":$qty,"status":"$status"$extra}}"""

  private def check(rows: String*) =
    DeliveryCheck.check(rows.mkString("[", ",", "]"), expected, cols, "k", "ver")

  test("accepts exactly the latest state of every changed key") {
    val r = check(row(1, 3, 5.0, "open"), row(2, 1, 7.0, "done"))
    assert(r.map(_.map(_._1)) == Right(Seq(1L, 2L)))
  }

  test("rejects a stale row") {
    val r = check(row(1, 2, 5.0, "open"))
    assert(r.left.exists(_.startsWith("stale key 1")))
  }

  test("rejects a duplicated key within one delivery") {
    val r = check(row(1, 3, 5.0, "open"), row(1, 3, 5.0, "open"))
    assert(r.left.exists(_.startsWith("duplicated key 1")))
  }

  test("rejects a column outside the allowlist union") {
    val r = check(row(1, 3, 5.0, "open", extra = ""","note":"x""""))
    assert(r.left.exists(_.startsWith("columns")))
  }

  test("rejects a missing allowlisted column") {
    val r = DeliveryCheck.check("""[{"Operation":"Upsert","Item":{"k":1,"ver":3,"qty":5.0}}]""",
      expected, cols, "k", "ver")
    assert(r.left.exists(_.startsWith("columns")))
  }

  test("rejects a key that did not change and a wrong value") {
    assert(check(row(9, 1, 1.0, "new")).left.exists(_.startsWith("extra key 9")))
    assert(check(row(2, 1, 8.0, "done")).left.exists(_.contains("column qty")))
  }

  test("rejects a payload that is not a JSON array of rows") {
    assert(DeliveryCheck.check("{}", expected, cols, "k", "ver").isLeft)
    assert(DeliveryCheck.check("[{\"Item\":{}}]", expected, cols, "k", "ver").isLeft)
    assert(DeliveryCheck.check("not json", expected, cols, "k", "ver").isLeft)
  }
}
