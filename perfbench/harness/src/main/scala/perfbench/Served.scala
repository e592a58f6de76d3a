package perfbench

import graft.api.{StatusHttp, StatusQueries}
import graft.ledger.LedgerStore
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** The status API as a client sees it: `StatusHttp` over loopback HTTP,
  * with each request's Spark jobs tagged on the server's dispatch thread
  * (`perfbench.tag` = kind#sequence) so the listener can attribute them. */
final class Served(store: LedgerStore, sc: SparkContext) {
  private final class TaggedQueries extends StatusQueries(store) {
    private val seq = new java.util.concurrent.atomic.AtomicLong
    private def tag(kind: String): Unit =
      sc.setLocalProperty(JobListener.TagKey, s"$kind#${seq.incrementAndGet()}")
    override def getUploadStatus(uploadId: String): DataFrame = {
      tag("get"); super.getUploadStatus(uploadId)
    }
    override def listUploads(status: Option[String], limit: Int): DataFrame = {
      tag("list"); super.listUploads(status, limit)
    }
  }

  private val http = new StatusHttp(new TaggedQueries)
  private val port = http.start()
  def stop(): Unit = http.stop()

  /** GET `path`: (HTTP code, JSON rows, milliseconds, CPU milliseconds of
    * the Java threads). Client and server share the process and one request
    * runs at a time, so the CPU figure is the request's cost. */
  def get(path: String): (Int, Seq[Map[String, String]], Double, Double) = {
    val cpu0 = Stats.threadCpuNs()
    val t0 = System.nanoTime()
    val c = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    val (code, body) =
      try {
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        try (code, new String(in.readAllBytes(), "UTF-8")) finally in.close()
      } finally c.disconnect()
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = Stats.threadCpuSinceNs(cpu0) / 1e6
    val rows =
      if (code != 200) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        Served.mapper.readTree(body).elements().asScala.map { n =>
          n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        }.toSeq
      }
    (code, rows, ms, cpuMs)
  }
}

object Served {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
