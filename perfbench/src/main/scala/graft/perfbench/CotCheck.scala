package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Output checks for the CoT workloads, run outside the timed window on
  * the feature lines the receiver kept.
  *
  *  - Fixture records (0..7) must equal `src/test/resources/cot_golden.json`
  *    under the golden spec's rule: null and absent are equal, numbers agree
  *    to 1e-6 relative (the golden comes from an independent Python
  *    implementation, so libm may differ in the last ulp).
  *  - Sampled generated records must carry their input record as
  *    `properties.metadata`, its position as the geometry, and a sensor
  *    azimuth and range that match an independent recomputation here.
  */
final class CotCheck(repo: Path, gen: DroneGen) {
  private val mapper = DroneGen.mapper

  private val golden: Map[String, JsonNode] = {
    val root = mapper.readTree(Files.readAllBytes(repo.resolve("src/test/resources/cot_golden.json")))
    root.get("features").elements().asScala.map(f => f.get("id").asText -> dropNulls(f)).toMap
  }

  private def dropNulls(n: JsonNode): JsonNode = n match {
    case o: ObjectNode =>
      val out = mapper.createObjectNode()
      o.properties().asScala.foreach { e =>
        if (!e.getValue.isNull) out.set[JsonNode](e.getKey, dropNulls(e.getValue))
      }
      out
    case a: ArrayNode =>
      val out = mapper.createArrayNode()
      a.elements().asScala.foreach(e => out.add(dropNulls(e)))
      out
    case other => other
  }

  private def close(g: Double, w: Double): Boolean =
    math.abs(g - w) <= math.max(1e-9, math.abs(w) * 1e-6)

  private def same(got: JsonNode, want: JsonNode): Boolean =
    if (got.isNumber && want.isNumber) close(got.asDouble, want.asDouble)
    else if (got.isObject && want.isObject) {
      val keys = got.properties().asScala.map(_.getKey).toSet
      keys == want.properties().asScala.map(_.getKey).toSet &&
        keys.forall(k => same(got.get(k), want.get(k)))
    } else if (got.isArray && want.isArray)
      got.size == want.size && (0 until got.size).forall(i => same(got.get(i), want.get(i)))
    else got == want

  /** Whether the feature line received for record `i` is right. */
  def ok(i: Int, line: String, stampMs: Int => Double): Boolean = {
    val got = dropNulls(mapper.readTree(line))
    if (i < DroneGen.fixture.length)
      golden.get(DroneGen.fixture(i).get("id").asText).exists(same(got, _))
    else {
      val in = gen.record(i, stampMs(i))
      val props = got.get("properties")
      val meta = props.get("metadata")
      def d(k: String) = in.get(k).asDouble
      val geomOk = same(got.get("geometry").get("coordinates"),
        mapper.createArrayNode().add(d("longitude")).add(d("latitude")).add(d("altitudeAgl")))
      val sensorOk =
        if (d("spoiLat") != 0 && d("spoiLng") != 0) {
          val s = props.get("sensor")
          s != null &&
            angleClose(s.get("azimuth").asDouble,
              CotCheck.bearing(d("latitude"), d("longitude"), d("spoiLat"), d("spoiLng"))) &&
            close(s.get("range").asDouble,
              CotCheck.distance(d("latitude"), d("longitude"), d("spoiLat"), d("spoiLng")))
        } else props.get("sensor") == null
      got.get("id").asText == in.get("id").asText && same(meta, dropNulls(in)) &&
        geomOk && sensorOk
    }
  }

  private def angleClose(g: Double, w: Double): Boolean = {
    val diff = math.abs(g - w) % 360
    math.min(diff, 360 - diff) <= 1e-6
  }
}

object CotCheck {
  private val EarthRadiusM = 6371000.0

  /** Initial great-circle bearing in degrees [0, 360). */
  def bearing(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val (p1, p2, dl) = (math.toRadians(lat1), math.toRadians(lat2), math.toRadians(lon2 - lon1))
    val x = math.sin(dl) * math.cos(p2)
    val y = math.cos(p1) * math.sin(p2) - math.sin(p1) * math.cos(p2) * math.cos(dl)
    (math.toDegrees(math.atan2(x, y)) + 360) % 360
  }

  /** Great-circle distance in meters (haversine, arcsine form). */
  def distance(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val (p1, p2) = (math.toRadians(lat1), math.toRadians(lat2))
    val h = math.pow(math.sin((p2 - p1) / 2), 2) +
      math.cos(p1) * math.cos(p2) * math.pow(math.sin(math.toRadians(lon2 - lon1) / 2), 2)
    2 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(h)))
  }
}
