package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** S4 (multiLine JSON dim seed) + S9 (truncate-and-reload) — the
  * reference's master-location init path
  * (run-once/init_master_location.py:20-32): load a nested JSON seed
  * file, flatten, truncate-reload the dimension table. */
class JsonSourceSpec extends SparkSpec {
  import spark.implicits._

  test("nested multiLine JSON seed → flatten → truncate-reload dim") {
    val dir = Files.createTempDirectory("graft-json")
    val seed =
      """[
        |  {"id": 3088089, "central_city": "Bandung",
        |   "coords": {"lat": -6.92, "lon": 107.61},
        |   "source": {"api": "weatherapi", "url": "https://example.invalid/b"}},
        |  {"id": 3088090, "central_city": "Bogor",
        |   "coords": {"lat": -6.59, "lon": 106.79},
        |   "source": {"api": "weatherapi", "url": "https://example.invalid/g"}}
        |]""".stripMargin
    Files.writeString(dir.resolve("seed.json"), seed)

    val raw = spark.read.option("multiLine", true).json(dir.resolve("seed.json").toString)
    // nested-path projection (O1 on nested structs)
    val dim = raw.select(
      col("id").as("location_id"),
      col("central_city").as("location_name"),
      col("coords.lat").as("lat"),
      col("coords.lon").as("lon"),
      col("source.api").as("source_api"))
    val out = dir.resolve("dim").toString
    dim.write.mode("overwrite").parquet(out)
    // reload over it (truncate semantics): second write fully replaces
    dim.where($"location_id" === 3088089).write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == 1)
    val r = back.head()
    assert(r.getAs[String]("location_name") == "Bandung")
    assert(math.abs(r.getAs[Double]("lat") - (-6.92)) < 1e-9)
  }

  // S1/S2's in-engine half: a landing dir of raw payload lines —
  // two good docs, one API error doc, one malformed line
  private def writeLanding(): String = {
    val dir = Files.createTempDirectory("graft-landing")
    Files.writeString(dir.resolve("batch1.json"),
      """{"created_at":"2024-01-01 06:00:00","fetch_method":"current","location":{"id":1,"name":"Bandung","lat":-6.92,"lon":107.61},"current":{"obs_id":10,"time":"2024-01-01 05:03:00","temp_c":20.5,"condition":"rain","precip_mm":1.0}}
        |{"error":{"code":1006,"message":"No matching location found."}}
        |{"created_at":"2024-01-01 06:00:00","fetch_method":"history","location":{"id":2,"name":"Bogor"},"current":{"obs_id":11,"time":"2024-01-01 04:00:00","temp_c":18.0,"condition":"sun"}}
        |{"created_at":"2024-01-01 06:00:00","fetch_method":"current","location":{"id":4,"name":"Depok"},"current":{"obs_id":12,"time":"2024-01-01T05:00:00Z","temp_c":21.0,"condition":"sun"}}
        |{"created_at": "2024-01-01 06:00:00", "fetch_method": "current", "location": {"id": 3""".stripMargin)
    dir.toString
  }

  test("landedJson: malformed lines, error docs, and unparseable timestamps drop; good payloads flatten") {
    // the drifted-ISO-time payload (obs 12) is valid JSON but must be
    // quarantined by the try_to_timestamp guard, not crash the batch
    // under Spark 4 ANSI
    val obs = graft.sources.Sources.landedJson(spark, writeLanding())
      .orderBy($"obs_id").collect()
    assert(obs.length == 2)
    assert(!obs.exists(_.getAs[Long]("obs_id") == 12L))
    val first = obs.head
    assert(first.getAs[Long]("location_id") == 1L)
    assert(first.getAs[java.sql.Timestamp]("ts") == java.sql.Timestamp.valueOf("2024-01-01 05:03:00"))
    assert(first.getAs[Double]("temp_c") == 20.5)
    assert(first.getAs[String]("fetch_method") == "current")
    // absent optional field → null, not a parse failure
    assert(obs(1).isNullAt(obs(1).fieldIndex("precip_mm")))
  }

  test("landedJsonRaw: the corrupt line is quarantined with its original text, not lost") {
    val raw = graft.sources.Sources.landedJsonRaw(spark, writeLanding()).cache()
    try {
      assert(raw.count() == 5) // every input line became a row
      val corrupt = raw.where(col(graft.sources.Sources.CorruptCol).isNotNull).collect()
      assert(corrupt.length == 1)
      assert(corrupt.head.getAs[String](graft.sources.Sources.CorruptCol).contains("\"id\": 3"))
      // the error doc is decodable (NOT corrupt) and carries its message
      val err = raw.where(col("error").isNotNull).head()
      assert(err.getAs[org.apache.spark.sql.Row]("error").getAs[String]("message")
        .contains("No matching location"))
    } finally raw.unpersist()
  }
}
