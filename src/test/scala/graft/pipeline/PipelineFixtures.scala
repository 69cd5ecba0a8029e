package graft.pipeline

import java.nio.file.{Files, Paths}

/** Reference-shaped landing files (FIXTURES.md §B) and the file-detail
  * config that ingests them, shared by the pipeline's suites.
  */
object PipelineFixtures {

  def write(dir: String, name: String, content: String): String = {
    Files.createDirectories(Paths.get(dir))
    val p = Paths.get(dir, name)
    Files.writeString(p, content)
    p.toString
  }

  def configFor(landing: String): Seq[Schemas.FileDetail] = Seq(
    Schemas.FileDetail(1, "c", "s", landing, "transactions*.csv", "bronze",
      "transactions", "CSV"),
    Schemas.FileDetail(2, "c", "s", landing, "manual_logs*.csv", "bronze",
      "manual_logs", "CSV"),
    Schemas.FileDetail(3, "c", "s", landing, "flight_logs*.csv", "bronze",
      "flight_logs", "CSV"),
    Schemas.FileDetail(4, "c", "s", landing, "sleep*.csv", "bronze",
      "fitbit_sleep_score", "CSV"),
    Schemas.FileDetail(5, "c", "s", landing, "hr*.csv", "bronze",
      "fitbit_heart_rate", "CSV"),
    Schemas.FileDetail(6, "c", "s", landing, "steps*.csv", "bronze",
      "fitbit_steps", "CSV"),
    Schemas.FileDetail(7, "c", "s", landing, "timeline*.json", "bronze",
      "google_timeline", "JSON"))

  def seedFixtures(landing: String): Unit = {
    write(landing, "transactions_1.csv",
      """country,date,name,type,amount,comments
        |Japan,2026-02-19,Hotel Tokyo,Hotel,"$1,200.50",Shinjuku hotel
        |Japan,2026-02-19,Ramen,Food,12.00,Dinner
        |Japan,2026-02-20,JR Pass,Travel,300.00,NULL
        |Japan,2026-02-20,Museum,,25.00,
        |Japan,not-a-date,Ghost,Misc,10.00,bad date row
        |""".stripMargin)
    write(landing, "manual_logs_1.csv",
      """day,date,flag,country,city,description,comments,food,travel,hotel
        |1,2026-02-19,1.0,Japan,Tokyo,Arrival day,Long flight,Ramen,Flight,Shinjuku
        |2,2026-02-20,0.0,Japan,Tokyo,Museum day,,Sushi,Train,Shinjuku
        |""".stripMargin)
    write(landing, "flight_logs_1.csv",
      ("date,flight_number,from,to,dep_time,arr_time,duration,airline,aircraft," +
        "registration,seat_number,seat_type,flight_class,flight_reason,note," +
        "dep_id,arr_id,airline_id,aircraft_id\n" +
        "2026-02-18,NH110,LHR,HND,09:00,17:30,11:30,ANA,B789,JA890A,32A," +
        "window,economy,leisure,,1,2,3,4\n" +
        "2026-02-18,NH006,HND,KIX,19:00,20:15,01:15,ANA,B738,JA301B,12C," +
        "aisle,economy,leisure,,2,5,3,6\n"))
    write(landing, "sleep_1.csv",
      """sleep_log_entry_id,timestamp,overall_score,composition_score,revitalization_score,duration_score,deep_sleep_in_minutes,resting_heart_rate,restlessness
        |100,2026-02-19 07:30:00,65,20.0,18,25.0,45,52,0.12
        |101,2026-02-20 08:00:00,90,28.0,27,30.0,80,48,0.05
        |""".stripMargin)
    write(landing, "hr_1.csv",
      """timestamp,beats_per_minute,data_source
        |2026-02-19 10:00:05,55.0,fitbit
        |2026-02-19 10:00:35,57.0,fitbit
        |2026-02-19 10:01:10,110.0,fitbit
        |2026-02-19 11:00:10,135.0,fitbit
        |""".stripMargin)
    write(landing, "steps_1.csv",
      """timestamp,steps,data_source
        |2026-02-19 10:05:00,500,fitbit
        |2026-02-19 10:40:00,250,fitbit
        |2026-02-19 12:00:00,1000,fitbit
        |""".stripMargin)
    write(landing, "timeline_1.json",
      """{ "semanticSegments": [
        |  { "startTime": "2026-02-19T09:00:00", "endTime": "2026-02-19T10:30:00",
        |    "visit": { "probability": 0.93,
        |      "topCandidate": { "placeId": "ChIJ123",
        |        "placeLocation": { "latLng": "35.6586° , 139.7454°" } } } },
        |  { "startTime": "2026-02-19T11:00:00", "endTime": "2026-02-19T11:45:00",
        |    "activity": { "distanceMeters": 1234.5,
        |      "topCandidate": { "type": "WALKING", "probability": 0.87 },
        |      "start": { "latLng": "35.65°, 139.74°" },
        |      "end":   { "latLng": "35.66°, 139.75°" } } },
        |  { "startTime": "2026-02-19T12:00:00", "endTime": "2026-02-19T12:10:00",
        |    "visit": { "probability": 0.5,
        |      "topCandidate": { "placeId": "ChIJ999",
        |        "placeLocation": "garbage location" } } },
        |  { "startTime": "2026-02-19T13:00:00", "endTime": "2026-02-19T13:05:00" }
        |] }
        |""".stripMargin)
  }
}
