package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-8 twenty-fourth-wave anchors: mask character classes, the
  * half-even disagreement set, dirty-timestamp fault paths and the
  * weekday index convention, at sf0.001.
  */
class Round8xSpec extends AnyFunSuite {
  import TestSpark._

  test("fn_mask rewrites exactly the character classes at sf0.001") {
    val rows = SparkEntry.queries("fn_mask")(spark, sf0001).collect()
    for (r <- rows) {
      val name = r.getString(1); val m = r.getString(2); val c = r.getString(3)
      assert(m.length == name.length && c.length == name.length)
      for (i <- name.indices) {
        val ch = name(i)
        val exp = if (ch.isUpper) 'X' else if (ch.isLower) 'x'
          else if (ch.isDigit) 'n' else ch
        assert(m(i) == exp, s"default mask at $i of '$name'")
        val expC = if (ch.isUpper || ch.isLower) '*'
          else if (ch.isDigit) '#' else '-'
        assert(c(i) == expC, s"custom mask at $i of '$name'")
      }
    }
  }

  test("fn_bround disagrees with round exactly on odd-floor halves at sf0.001") {
    val rows = SparkEntry.queries("fn_bround")(spark, sf0001).collect()
    var nHalf = 0
    for (r <- rows) {
      val x = r.getDouble(1); val b = r.getDouble(2); val h = r.getDouble(3)
      val isHalf = x - math.floor(x) == 0.5
      if (isHalf) {
        nHalf += 1
        val fl = math.floor(x)
        val expB = if (fl.toLong % 2 == 0) fl else fl + 1
        assert(b == expB && h == fl + 1)
        assert(r.getBoolean(4) == (b != h))
      } else {
        assert(b == h && !r.getBoolean(4), s"non-half $x disagreed")
      }
    }
    assert(nHalf > 0, "fixture has no exact halves - the test is vacuous")
  }

  test("fn_try_to_timestamp nulls exactly the corrupted keys at sf0.001") {
    val rows = SparkEntry.queries("fn_try_to_timestamp")(spark, sf0001)
      .collect()
    for (r <- rows) {
      val k = r.getLong(0)
      val dirty = k % 7 == 0 || k % 11 == 0
      assert(r.getBoolean(3) == dirty, s"key $k")
      assert(r.isNullAt(2) == dirty)
    }
  }

  test("fn_date_names conventions hold at sf0.001") {
    val rows = SparkEntry.queries("fn_date_names")(spark, sf0001).collect()
    val names = Set("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
      "Saturday", "Sunday")
    for (r <- rows) {
      val od = r.getDate(1).toLocalDate
      assert(names.contains(r.getString(2)))
      assert(r.getLong(4) == (od.getMonthValue + 2) / 3, s"$od qtr")
      assert(r.getLong(5) == od.getDayOfYear, s"$od doy")
      // 1=Sunday convention: java DayOfWeek SUNDAY=7 -> 1
      val expDow = od.getDayOfWeek.getValue % 7 + 1
      assert(r.getLong(6) == expDow, s"$od dow")
    }
  }
}
