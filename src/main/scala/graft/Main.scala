package graft

import graft.config.DedupeConfig
import graft.model.Settings
import graft.pipeline.DedupePipeline

/** CLI entry point: config-file-in → parquet-out (ref: `pgdedupe --config
  * X --db Y`, pgdedupe/cli.py:26-67 — the Postgres connection is replaced
  * by parquet paths; everything else is config-driven).
  *
  * Usage: graft.Main --config <yaml|json> [--input <parquet>]
  *        [--output <dir>]
  * Config keys `input`/`output` supply defaults for the flags. Writes
  * `unique_map/` (source-key grain: dedupe_id, <key>, cluster_score) and
  * `entries_unique/` (deduped-record grain) under the output dir, and
  * prints the reproducibility model hash (ref cli.py:96-104) and total
  * wall-clock (ref cli.py:67).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val configPath = opts.getOrElse("config",
      sys.error("usage: graft.Main --config <file> [--input <parquet>] " +
        "[--output <dir>]"))
    val cfg = DedupeConfig.load(configPath)
    val input = opts.get("input").orElse(cfg.input)
      .getOrElse(sys.error("no --input flag and no `input` config key"))
    val output = opts.get("output").orElse(cfg.output)
      .getOrElse(sys.error("no --output flag and no `output` config key"))

    // SPARK_GRAFT_MASTER: a cluster address in place of local[cpus].
    val spark = GraftSession(master = sys.env.get("SPARK_GRAFT_MASTER"))

    val entries = spark.read.parquet(input)
    val result = DedupePipeline.run(entries, cfg)
    println(s"model hash = ${Settings.modelHash(cfg, result.model)}")
    result.uniqueMap.write.mode("overwrite").parquet(s"$output/unique_map")
    result.mapped.write.mode("overwrite").parquet(s"$output/entries_unique")
    result.release() // both sinks written; free every pinned frontier
    println(f"ran in ${(System.nanoTime() - start) / 1e9}%.1f seconds")
    spark.stop()
  }
}
