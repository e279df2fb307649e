package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifacts are JSON: their decimals must not follow the
  * default locale's separator. */
class BenchFormatSpec extends AnyFunSuite {
  test("bench decimals keep a '.' separator under a comma-decimal locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.1f", Double.box(1.5)) == "1,5") // the locale bites
      assert(Bench.ms(1.5) == "1.500")
      assert(Bench.dec(1)(1234.56) == "1234.6")
      assert(Bench.dec(0)(12.4) == "12")
      // the headline's trimmed form: trailing zeros and a bare dot go
      assert(Bench.cs(2)(1.2) == "1.2")
      assert(Bench.cs(2)(3.0) == "3")
      assert(Bench.cs(3)(0.1234) == "0.123")
    } finally Locale.setDefault(saved)
  }
}
