package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def payloads(seed: Long): Seq[String] =
    Gen.Coins.indices.flatMap(i => Gen.candles(seed, i, 3, 4).map(c => Gen.payload(Seq(c))))

  test("the same seed gives byte-identical payloads") {
    assert(payloads(7L) == payloads(7L))
  }

  test("a different seed changes the payloads") {
    assert(payloads(7L) != payloads(8L))
  }

  test("payloads are CoinAPI-shaped one-candle JSON arrays") {
    val p = payloads(1L).head
    assert(p.startsWith("[{\"time_period_start\": \"2023-04-26T00:00:00.0000000Z\""))
    assert(p.endsWith("}]"))
    Seq("time_period_end", "time_open", "time_close", "price_open", "price_high",
      "price_low", "price_close", "volume_traded", "trades_count")
      .foreach(k => assert(p.contains(s""""$k": """), k))
  }

  test("candles are consecutive 5-minute slots of their day") {
    val cs = Gen.candles(3L, 0, 2, 4)
    assert(cs.map(_.day.toString) == Seq.fill(4)("2023-04-26") ++ Seq.fill(4)("2023-04-27"))
    cs.foreach(c => assert(c.end.getEpochSecond - c.start.getEpochSecond == Gen.SlotSeconds))
    cs.foreach(c => assert(c.priceLow <= c.priceOpen.min(c.priceClose)))
    cs.foreach(c => assert(c.priceHigh >= c.priceOpen.max(c.priceClose)))
  }

  test("query order: a seeded permutation, identical per seed, different across seeds and rounds") {
    val names = (1 to 50).map(i => f"q$i%02d")
    val a = Gen.order(5L, 1, names)
    assert(a.sorted == names.sorted)
    assert(a == Gen.order(5L, 1, names.reverse))
    assert(a != Gen.order(6L, 1, names))
    assert(a != Gen.order(5L, 2, names))
  }
}
