package org.apache.spark.sql

import com.fasterxml.jackson.core.JsonGenerator
import org.apache.spark.sql.catalyst.json.JacksonGenerator

/** The Spark-private field `graft-http`'s writer needs: the Jackson
  * generator inside [[JacksonGenerator]], whose features Spark does not
  * expose. The field is looked up when this object loads, so a Spark
  * upgrade that renames it fails the first writer, and `HttpSourceSpec`,
  * instead of silently writing doubles through `Double.toString`.
  */
object JacksonShim {
  private val genField = {
    val f = classOf[JacksonGenerator].getDeclaredField("gen")
    f.setAccessible(true)
    f
  }

  /** The Jackson generator `g` writes through. */
  def jsonGenerator(g: JacksonGenerator): JsonGenerator =
    genField.get(g).asInstanceOf[JsonGenerator]
}
