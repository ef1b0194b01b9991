package graft.net

import graft.queries.TranscodeE2E

import java.nio.file.{Files, Path}

/** Server config files for tests that run landing drains. */
object LandingConfig {

  /** Write `dir/config.json`: one table, `landing.example`, bound to
    * ExampleMessage, landing parquet under `dir/land` every 100 ms with
    * `writers` writers. Rewriting it and calling `reload()` is a config
    * change.
    */
  def write(dir: Path, capacity: Int = 256, writers: Int = 2): Path = {
    val desc = dir.resolve("example.desc")
    if (!Files.exists(desc)) {
      val in = getClass.getResourceAsStream("/descriptors/example.pb")
      Files.write(desc, in.readAllBytes()); in.close()
    }
    val cols = TranscodeE2E.table.map { c =>
      s"""{"name": "${c.name}", "type": "${c.typeString}"}"""
    }.mkString("[", ", ", "]")
    val cfg = dir.resolve("config.json")
    Files.write(cfg,
      s"""{
         |  "ingest": {"bind_port": 0},
         |  "proto_descriptor_paths": ["$desc"],
         |  "catalogs": [{"name": "landing", "tables": {
         |    "example": {"capacity": $capacity, "on_full": "block",
         |      "messages": ["ExampleMessage"], "columns": $cols,
         |      "landing_dir": "${dir.resolve("land")}",
         |      "flush_interval": 100, "writers": $writers}
         |  }}]
         |}""".stripMargin.getBytes("UTF-8"))
    cfg
  }
}
