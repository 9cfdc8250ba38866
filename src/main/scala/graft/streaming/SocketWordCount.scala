package graft.streaming

/** Faithful re-expression of the reference program
  * (`/root/reference/study/src/main/scala/group/xc/flink/stream/demo1/StreamSocket.scala:12-16`):
  * socket text source → tokenize on single spaces → key by word → rolling
  * count → print sink, running forever.
  *
  * Mapping (SURVEY.md §2.A): socketTextStream → `format("socket")`;
  * flatMap(split) + keyBy(0).sum(1) → `Graft.rollingWordCount` (explode of
  * the split, then a streaming per-word count) in update mode
  * (per-micro-batch refreshed rows — the Spark-native equivalent of Flink's
  * per-record emission; state agrees at every batch boundary); print() →
  * console sink; execute() → `start().awaitTermination()`.
  *
  * Each micro-batch writes its offset log, commit log and state deltas
  * through `graft.NioLocalFs` (the program's `core-site.xml`), so it forks
  * no `chmod` or `readlink` process per file.
  *
  * Run: `sbt "runMain graft.streaming.SocketWordCount <host> <port>"`
  * (e.g. against `nc -lk 9999`); under spark-submit its `--master` is kept.
  */
object SocketWordCount {
  def main(args: Array[String]): Unit = {
    val host = if (args.length > 0) args(0) else "localhost"
    val port = if (args.length > 1) args(1).toInt else 9999
    val spark = graft.Tables.session("graft-socket-wordcount")

    val lines = spark.readStream
      .format("socket")
      .option("host", host)
      .option("port", port)
      .load()

    val counts = graft.api.Graft.rollingWordCount(lines, "value")

    val query = counts.writeStream
      .outputMode("update")
      .format("console")
      .start()
    query.awaitTermination()
  }
}
