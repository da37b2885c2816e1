package graftbench

import java.util.Base64
import java.util.SplittableRandom

import scala.collection.immutable.HashMap

/** The value columns of one store row: what the parser makes of a valid
  * probe request. */
final case class Obs(ssid: String, rssi: Long, freq: Long)

/** Seeded 802.11 frame lines in the upload format
  * `sensorId:epochMillis:base64(frame)`, laid out at the offsets
  * `graft.operators.FrameParser` reads (ssidentity.h). Source MACs follow
  * a Zipf law over `nMacs` devices. A fixed share of frames is rejected
  * by the parser (beacons, directed probes, IP payloads, empty or
  * unprintable SSIDs); `ssid = "error"` marks a delete. The sensorId is a
  * global sequence number, which the store uses as the version. The
  * shares and the skew are assumptions, not measured traffic (README.md
  * gives the reason for each). */
final class FrameGen(seed: Long, nMacs: Int) {
  import FrameGen._
  private val rng = new SplittableRandom(seed)
  val macs: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < nMacs)
      seen += f"02${rng.nextLong() & 0xffffffffffL}%010X"
    seen.toArray
  }
  private val cdf: Array[Double] = {
    val w = (1 to nMacs).map(k => 1.0 / math.pow(k, ZipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private val ssids = Array.tabulate(48)(i => f"net-$i%02d-" + ("abcdefgh" * 4).take(3 + i % 20))

  /** A Zipf-distributed device index, most popular first. */
  def macIndex(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, nMacs - 1)
  }
  def nextSsid(): String = ssids(rng.nextInt(ssids.length))
  def nextRssi(): Long = -90L + rng.nextInt(61)
  def nextFreq(): Long = 2412L + 5L * rng.nextInt(13)

  private def frame(mac: String, ssid: Array[Byte], rssi: Long, freq: Long,
      subtype: Int, broadcast: Boolean, proto: Int): Array[Byte] = {
    val b = new Array[Byte](62 + ssid.length)
    b(19) = (freq >> 8).toByte; b(20) = freq.toByte
    b(22) = (rssi + 255).toByte
    b(23) = proto.toByte
    b(26) = (subtype << 4).toByte
    (30 until 36).foreach(i => b(i) = if (broadcast) 0xff.toByte else 0x20.toByte)
    (0 until 6).foreach(i => b(36 + i) = Integer.parseInt(mac.substring(2 * i, 2 * i + 2), 16).toByte)
    b(61) = ssid.length.toByte
    System.arraycopy(ssid, 0, b, 62, ssid.length)
    b
  }

  /** One upload line for sequence number `ver` captured at `tsMillis`,
    * and the change it makes if the parser keeps it: Some(Some(obs)) is
    * an upsert, Some(None) a delete, None a rejected frame. */
  def line(ver: Long, tsMillis: Long): (String, String, Option[Option[Obs]]) = {
    val mac = macs(macIndex())
    val rssi = nextRssi(); val freq = nextFreq()
    val u = rng.nextDouble()
    val (bytes, effect) =
      if (u < InvalidShare) {
        val ok = "probe".getBytes("US-ASCII")
        val f = rng.nextInt(5) match {
          case 0 => frame(mac, ok, rssi, freq, 8, broadcast = true, 0) // beacon
          case 1 => frame(mac, ok, rssi, freq, 4, broadcast = false, 0) // directed
          case 2 => frame(mac, ok, rssi, freq, 4, broadcast = true, 6) // TCP payload
          case 3 => frame(mac, Array.emptyByteArray, rssi, freq, 4, broadcast = true, 0)
          case _ => frame(mac, Array[Byte](0x62, 0x07, 0x61), rssi, freq, 4, broadcast = true, 0)
        }
        (f, None)
      } else if (u < InvalidShare + DeleteShare) {
        (frame(mac, "error".getBytes("US-ASCII"), rssi, freq, 4, broadcast = true, 0), Some(None))
      } else {
        val s = nextSsid()
        (frame(mac, s.getBytes("US-ASCII"), rssi, freq, 4, broadcast = true, 0),
          Some(Some(Obs(s, rssi, freq))))
      }
    (s"$ver:$tsMillis:${Base64.getEncoder.encodeToString(bytes)}", mac, effect)
  }
}

object FrameGen {
  val ZipfS = 1.1
  val InvalidShare = 0.15
  val DeleteShare = 0.05
}

/** The client's reference model of a keyed store: last writer wins, in
  * the order changes are applied. Immutable maps, so every committed
  * version's state can be kept cheaply for time-travel and change-feed
  * checks. */
final class Model {
  var state: HashMap[String, Obs] = HashMap.empty
  private val versions = scala.collection.mutable.HashMap[Long, HashMap[String, Obs]]()

  def apply(mac: String, effect: Option[Obs]): Unit = effect match {
    case Some(o) => state = state.updated(mac, o)
    case None => state = state.removed(mac)
  }
  var latest: Long = -1L
  def commit(version: Long): Unit = { versions(version) = state; latest = version }
  def at(version: Long): Option[HashMap[String, Obs]] = versions.get(version)
}
