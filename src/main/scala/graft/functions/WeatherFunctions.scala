package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column functions (SURVEY §2.8). All are pure column
  * arithmetic — they stay inside whole-stage codegen; no UDFs.
  */
object WeatherFunctions {

  /** F7: Celsius → Fahrenheit (reference: dags/spark/transform_raw_weather.py:46). */
  def cToF(tempC: Column): Column = tempC * 9.0 / 5.0 + 32.0

  /** F7 inverse: Fahrenheit → Celsius (reference: dags/spark/transform_raw_weather.py:58). */
  def fToC(tempF: Column): Column = (tempF - 32.0) * 5.0 / 9.0

  /** F8: heat index, Rothfusz regression (public NWS formula; the
    * reference computes the same 9-term polynomial at
    * dags/spark/transform_raw_weather.py:45-58, but feeds it a
    * missing top-level temp_c — a dormant bug in its unused path; we
    * compute from the real columns). Inputs: temperature °C, relative
    * humidity %. Output: heat index °C.
    */
  def heatIndexC(tempC: Column, humidity: Column): Column = {
    val t = cToF(tempC)
    val rh = humidity
    val hiF =
      lit(-42.379) +
        lit(2.04901523) * t +
        lit(10.14333127) * rh -
        lit(0.22475541) * t * rh -
        lit(6.83783e-3) * t * t -
        lit(5.481717e-2) * rh * rh +
        lit(1.22874e-3) * t * t * rh +
        lit(8.5282e-4) * t * rh * rh -
        lit(1.99e-6) * t * t * rh * rh
    fToC(hiF)
  }

  /** F6: zero-pad to 2 digits (reference f"{m:02d}",
    * dags/daily_compile_weather.py:37). */
  def zeroPad2(n: Column): Column = lpad(n.cast("string"), 2, "0")

  /** F2: the reference's canonical timestamp string format
    * (dags/fetch_weather.py:79). */
  def formatTs(ts: Column): Column = date_format(ts, "yyyy-MM-dd HH:mm:ss")

  /** F4: UTC → zone shift as an explicit operator (the reference pins
    * Asia/Jakarta ambiently, dags/fetch_weather.py:14; we make it
    * explicit per SURVEY §1.3). */
  def toZone(ts: Column, zone: String): Column = from_utc_timestamp(ts, zone)
}
