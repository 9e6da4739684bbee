package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.driverGap`: the part of a sample's wall time no Spark job
  * covers, written to the bench profile as `driver_gap_s`.
  */
class BenchSpec extends AnyFunSuite {

  test("overlapping job intervals count once, as concurrent Par.all chains produce") {
    // two chains' jobs overlap on [20, 40]; one job nests inside another
    val jobs = Seq((10L, 40L), (20L, 50L), (25L, 30L), (45L, 60L), (80L, 90L))
    assert(Bench.driverGap(0L, 100L, jobs) === 100L - (50L + 10L))
  }

  test("idle time before the first job and after the last is driver time") {
    assert(Bench.driverGap(1000L, 1100L, Seq((1030L, 1090L))) === 40L)
    assert(Bench.driverGap(1000L, 1100L, Nil) === 100L)
  }

  test("job intervals are clipped to the sample window") {
    assert(Bench.driverGap(1000L, 1100L, Seq((900L, 1010L), (1095L, 1200L))) === 85L)
    assert(Bench.driverGap(1000L, 1100L, Seq((0L, 5000L))) === 0L)
  }
}
