package graft.perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Seeded DroneSense record generator.
  *
  * Records 0..7 are the embedded fixture (`graft/drones.json`) verbatim.
  * Record i >= 8 copies fixture record i % 8 (so the sensor/spoi shapes,
  * and with them every branch of the CoT transform, recur in the same
  * proportions) and moves it along one of [[Tracks]] jittered straight
  * tracks. The id `g<i>` lets the receiver map a feature back to its
  * record index without parsing the whole body.
  *
  * `stampMs(i)` is written into `lastUpdate`; the stream workload uses it
  * as the record's creation stamp.
  */
final class DroneGen(seed: Long) {
  import DroneGen._

  private def track(d: Int): (Double, Double, Double, Double) = {
    val r = new SplittableRandom(seed * 1000003L + d)
    val base = fixture(d % fixture.length)
    (base.get("latitude").asDouble + r.nextDouble(-0.5, 0.5),
      base.get("longitude").asDouble + r.nextDouble(-0.5, 0.5),
      r.nextDouble(0, 360), r.nextDouble(2, 25))
  }
  private val tracks = Array.tabulate(Tracks)(track)

  /** Record `i` with `lastUpdate` = `stampMs`. */
  def record(i: Int, stampMs: Double): ObjectNode = {
    val base = fixture(i % fixture.length)
    if (i < fixture.length) return base
    val r = new SplittableRandom(seed * 7919L + i)
    val d = i % Tracks
    val step = i / Tracks
    val (lat0, lon0, heading, speed) = tracks(d)
    val rad = math.toRadians(heading)
    val lat = lat0 + step * speed * 1e-5 * math.cos(rad) + r.nextDouble(-1e-4, 1e-4)
    val lon = lon0 + step * speed * 1e-5 * math.sin(rad) + r.nextDouble(-1e-4, 1e-4)
    val n = base.deepCopy()
    n.put("id", f"g$i%07d")
    n.put("callSign", s"${base.get("callSign").asText}-$d")
    n.put("latitude", lat)
    n.put("longitude", lon)
    n.put("lastUpdate", stampMs)
    n.put("altitudeAgl", base.get("altitudeAgl").asDouble + r.nextDouble(-5, 5))
    n.put("altitudeMsl", base.get("altitudeMsl").asDouble + r.nextDouble(-5, 5))
    n.put("speed", speed)
    n.put("heading", heading)
    // a zero spoi marks "no sensor point of interest" — keep it zero so
    // the no-FOV branch stays exercised
    if (base.get("spoiLat").asDouble != 0 && base.get("spoiLng").asDouble != 0) {
      n.put("spoiLat", lat + r.nextDouble(-0.02, 0.02))
      n.put("spoiLng", lon + r.nextDouble(-0.02, 0.02))
    }
    n
  }

  /** Records [0, n) rendered as one buffer `r0,r1,…,r(n-1),` plus the
    * start offset of every record (and the end, at index n), so a page
    * for any [offset, offset+limit) is a slice copy.
    */
  def render(n: Int, stampMs: Int => Double): Rendered = {
    val out = new java.io.ByteArrayOutputStream(n * 700)
    val starts = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      starts(i) = out.size()
      out.write(mapper.writeValueAsBytes(record(i, stampMs(i))))
      out.write(',')
      i += 1
    }
    starts(n) = out.size()
    Rendered(out.toByteArray, starts)
  }
}

/** Pre-rendered records: record i is `bytes[starts(i), starts(i+1) - 1)`. */
final case class Rendered(bytes: Array[Byte], starts: Array[Int]) {
  def size: Int = starts.length - 1
}

object DroneGen {
  val Tracks = 1024
  /** `lastUpdate` of the fixture's first record; generated stamps count on from it. */
  val StampBaseMs = 1714500000000.0

  val mapper = new ObjectMapper()

  /** The embedded fixture, one node per record. */
  lazy val fixture: IndexedSeq[ObjectNode] = {
    val in = getClass.getResourceAsStream("/graft/drones.json")
    require(in != null, "embedded fixture /graft/drones.json missing")
    try mapper.readTree(in).asInstanceOf[ArrayNode].elements().asScala
      .map(_.asInstanceOf[ObjectNode]).toIndexedSeq
    finally in.close()
  }

  /** Record index carried in a feature id: `d<k>` is fixture record k-1,
    * `g<i>` is generated record i; -1 for anything else.
    */
  def indexOf(id: String): Int =
    if (id.startsWith("g")) id.substring(1).toIntOption.getOrElse(-1)
    else fixture.indexWhere(_.get("id").asText == id)
}
