package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** Seeded workload inputs. The engine only ever sees what this object
  * emits: CoinAPI-shaped JSON payloads for `ingest` and a query order for
  * `analytics` / `curation`. Same seed, byte-identical output; the
  * generators depend on nothing but the seed and their size arguments.
  */
object Gen {

  /** Coin → (starting price, decimal places the API quotes it with). */
  val Coins: Seq[(String, Double, Int)] = Seq(
    ("bitcoin", 28370.0, 1), ("ethereum", 1900.0, 2), ("ripple", 0.5, 4))

  val FirstDay: LocalDate = LocalDate.of(2023, 4, 26)
  val SlotSeconds = 300L // the reference's 5-minute candle

  /** One candle as the API quotes it (prices still decimals). */
  final case class Candle(
      coin: String, day: LocalDate, start: Instant, end: Instant,
      open: Instant, close: Instant,
      priceOpen: BigDecimal, priceHigh: BigDecimal,
      priceLow: BigDecimal, priceClose: BigDecimal,
      volume: BigDecimal, trades: Int) {

    def json: String =
      s"""{"time_period_start": "${iso(start)}", "time_period_end": "${iso(end)}", """ +
      s""""time_open": "${iso(open)}", "time_close": "${iso(close)}", """ +
      s""""price_open": ${num(priceOpen)}, "price_high": ${num(priceHigh)}, """ +
      s""""price_low": ${num(priceLow)}, "price_close": ${num(priceClose)}, """ +
      s""""volume_traded": ${num(volume)}, "trades_count": $trades}"""
  }

  private def num(x: BigDecimal): String = x.bigDecimal.toPlainString

  /** CoinAPI timestamp shape: 7 fraction digits and a `Z` suffix. */
  def iso(t: Instant): String = {
    val base = t.atOffset(ZoneOffset.UTC).toLocalDateTime
    f"${base.toLocalDate}T${base.getHour}%02d:${base.getMinute}%02d:${base.getSecond}%02d." +
      f"${t.getNano / 100}%07dZ"
  }

  /** A CoinAPI response: a JSON array of `limit` candles. */
  def payload(candles: Seq[Candle]): String = candles.map(_.json).mkString("[", ", ", "]")

  /** Random-walk candles for one coin: `days` simulated days of
    * `slotsPerDay` consecutive 5-minute slots each, starting at midnight.
    */
  def candles(seed: Long, coinIdx: Int, days: Int, slotsPerDay: Int): IndexedSeq[Candle] = {
    val (coin, p0, places) = Coins(coinIdx)
    val rnd = new SplittableRandom(mix(seed, 1000L + coinIdx))
    def quote(x: Double, scale: Int): BigDecimal =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_EVEN)
    var last = p0
    for {
      d <- 0 until days
      s <- 0 until slotsPerDay
    } yield {
      val day = FirstDay.plusDays(d.toLong)
      val start = day.atStartOfDay(ZoneOffset.UTC).toInstant.plusSeconds(s * SlotSeconds)
      val open = last
      val close = math.max(open * (1.0 + (rnd.nextDouble() - 0.5) * 0.004), 0.0001)
      val high = math.max(open, close) * (1.0 + rnd.nextDouble() * 0.001)
      val low = math.min(open, close) * (1.0 - rnd.nextDouble() * 0.001)
      last = close
      val tOpen = start.plusMillis(rnd.nextLong(60000L))
      val tClose = start.plusMillis(240000L + rnd.nextLong(59999L))
      Candle(coin, day, start, start.plusSeconds(SlotSeconds), tOpen, tClose,
        quote(open, places), quote(high, places), quote(low, places), quote(close, places),
        quote(rnd.nextDouble() * 10.0, 8), 1 + rnd.nextInt(200))
    }
  }

  /** The seeded order of one round: a Fisher-Yates shuffle of the sorted
    * names, reseeded per round so rounds differ from each other too.
    */
  def order(seed: Long, round: Int, names: Seq[String]): IndexedSeq[String] = {
    val a = names.sorted.toArray
    val rnd = new SplittableRandom(mix(seed, 2000L + round))
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }

  /** SplitMix64 finalizer over (seed, stream): independent streams. */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
