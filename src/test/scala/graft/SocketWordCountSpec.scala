package graft

import java.io.PrintWriter
import java.net.ServerSocket

/** End-to-end check of the reference program's socket semantics (I2→I7):
  * a local TCP server feeds lines; the streaming word count's state must
  * converge to the expected counts. */
class SocketWordCountSpec extends SparkSpec {
  import spark.implicits._

  test("socket source word count converges to expected counts") {
    val server = new ServerSocket(0)
    val port = server.getLocalPort
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new PrintWriter(sock.getOutputStream, true)
      out.println("spark flink spark")
      out.println("graft spark")
      out.flush()
      // keep the connection open while the query drains it
      Thread.sleep(8000)
      sock.close(); server.close()
    })
    feeder.setDaemon(true)
    feeder.start()

    val counts = api.Graft.rollingWordCount(spark.readStream
      .format("socket").option("host", "localhost").option("port", port).load(),
      "value")
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("socket_wc").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        val m = spark.table("socket_wc").as[(String, Long)].collect().toMap
        ok = m.get("spark").contains(3L) && m.get("flink").contains(1L) &&
          m.get("graft").contains(1L)
        if (!ok) Thread.sleep(250)
      }
      assert(ok, s"final counts: ${spark.table("socket_wc").collect().toSeq}")
    } finally q.stop()
  }
}
