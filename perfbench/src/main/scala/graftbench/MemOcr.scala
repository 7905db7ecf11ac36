package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.sources.TextractConnector.OcrClient

/** The corpus the in-memory OCR service answers from. Filled at
  * set-up on the driver; local-mode executors share the JVM, so every
  * reader sees it. */
object MemOcrStore {
  private val docs = new ConcurrentHashMap[String, Doc]()
  /** Blocks handed to the `graft-ocr` reader since the last reset. */
  val blocksServed = new AtomicLong()

  def load(corpus: Seq[Doc]): Unit = {
    docs.clear()
    corpus.foreach(d => docs.put(d.key, d))
  }
  def get(key: String): Doc = {
    val d = docs.get(key)
    if (d == null) throw new NoSuchElementException(s"no document $key")
    d
  }
  def resetCounters(): Unit = blocksServed.set(0)
}

/** No-arg [[OcrClient]] named through the source's `client` option.
  * A job succeeds at once and each fetch returns one page, with the
  * next page's index as the continuation token, so a read pays only
  * for the connector's own work. */
class MemOcrClient extends OcrClient {
  override def startJob(doc: String): String = doc
  override def jobStatus(jobId: String): String = "SUCCEEDED"
  override def fetchPage(jobId: String, token: Option[String])
      : (Seq[(String, String, Int, Double, Double)], Option[String]) = {
    val doc = MemOcrStore.get(jobId)
    val i = token.fold(0)(_.toInt)
    val page = doc.pages(i)
    MemOcrStore.blocksServed.addAndGet(page.size)
    (page.map(_.tuple), if (i + 1 < doc.pages.size) Some((i + 1).toString) else None)
  }
}
