package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.hb.{Graft, HbParser}
import graft.sinks.Sinks
import graft.sources.Providers

/** CLI — the gateway/sync/calculator pipeline collapsed into one driver
  * program (SURVEY §3.4): parse a `.hb` file, resolve its source provider,
  * fold the transformation chain, write the result.
  *
  * Usage:
  *   runMain graft.RunHb <file.hb> [--data-dir DIR] [--out PATH]
  *     [--format parquet|json|matrix|html|show|shards]
  *     [--shard-col COL] [--order-col COL] [--max-records N]
  *
  * `html` renders the program's literate `!#…!#` blocks as prose around
  * the re-printed statements plus the result table (hb.Render).
  * `shards` writes the training-shard layout (Sinks.writeShards): one
  * parquet partition dir per `--shard-col` value (default `shard`, the
  * `pack` statement's output), rows ordered by `--order-col` (default
  * `seq_id` then the shard col itself if absent).
  */
object RunHb {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: RunHb <file.hb> [--data-dir DIR] [--out PATH] " +
          "[--format parquet|json|matrix|html|show]")
      sys.exit(2)
    }
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) => k -> v
    }.toMap
    val dataDir = opts.getOrElse("--data-dir", ".")
    val format = opts.getOrElse("--format", "show")
    val out = opts.get("--out")
    shardOpts = (opts.getOrElse("--shard-col", "shard"),
      opts.get("--order-col"),
      opts.get("--max-records").map(_.toLong).getOrElse(0L))

    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args(0))), "UTF-8")
    val program = HbParser.parse(text)
    val spark = Sessions.local()
    try Scope.open { _ =>
      val source = Providers.fromHeader(spark, program.header, dataDir)
      val result = Graft.run(program, source)
      if (format == "html") {
        val html = graft.hb.Render.html(program, Some(result))
        out match {
          case Some(p) => java.nio.file.Files.writeString(
            java.nio.file.Paths.get(p), html)
          case None => println(html)
        }
      } else write(result, format, out)
    } finally spark.stop()
  }

  private def write(df: DataFrame, format: String,
      out: Option[String]): Unit = format match {
    case "parquet" =>
      df.write.mode(SaveMode.Overwrite)
        .parquet(out.getOrElse(sys.error("--out required for parquet")))
    case "json" =>
      df.toJSON.write.mode(SaveMode.Overwrite)
        .text(out.getOrElse(sys.error("--out required for json")))
    case "matrix" =>
      val json = Sinks.matrixJson(df)
      out match {
        case Some(p) => java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p), json)
        case None => println(json)
      }
    case "show" => df.show(50, truncate = false)
    case "shards" =>
      val (shardCol, orderOpt, maxRec) = shardOpts
      val orderCol = orderOpt.getOrElse(
        if (df.columns.contains("seq_id")) "seq_id" else shardCol)
      Sinks.writeShards(df,
        out.getOrElse(sys.error("--out required for shards")),
        shardCol, orderCol, maxRec)
    case other => sys.error(s"unknown format '$other'")
  }

  // (shardCol, orderCol, maxRecordsPerFile) for --format shards
  private var shardOpts: (String, Option[String], Long) =
    ("shard", None, 0L)
}
