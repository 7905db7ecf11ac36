package graft.sources

/** The OCR service boundary of the ingest, shaped after the
  * reference's Textract client flow (lambda_function.py:47-79):
  * start job → poll until terminal → paginate blocks. The fetch loop
  * itself — one job per document, lazy pagination with a per-document
  * `seq`, per-document quarantine — is the `graft-ocr` DataSourceV2
  * reader ([[OcrDataSourceV2]]).
  *
  * The AWS transport is abstracted behind [[OcrClient]] so the
  * reader's ordering, quarantine and pagination logic are testable
  * offline; [[stub]] is the deterministic fake used in tests. A real
  * deployment supplies an implementation backed by the public
  * Textract API ([[AwsHttpOcrClient]]).
  */
object TextractConnector {

  /** Minimal OCR service interface (public Textract API shape). */
  trait OcrClient extends Serializable {
    /** Start an async job for one document key; returns job id. */
    def startJob(doc: String): String
    /** Poll job status: "SUCCEEDED" | "FAILED" | "IN_PROGRESS". */
    def jobStatus(jobId: String): String
    /** Fetch one result page: (blocks, nextToken). */
    def fetchPage(jobId: String, token: Option[String])
        : (Seq[(String, String, Int, Double, Double)], Option[String])
  }

  /** Deterministic offline stub: synthesizes a two-page, two-column
    * document per key. Used by tests and the streaming demo. */
  def stub(blocksPerDoc: Int = 6): OcrClient = new OcrClient {
    def startJob(doc: String): String = s"job-$doc"
    def jobStatus(jobId: String): String = "SUCCEEDED"
    def fetchPage(jobId: String, token: Option[String])
        : (Seq[(String, String, Int, Double, Double)], Option[String]) = {
      val doc = jobId.stripPrefix("job-")
      val h = math.abs(doc.hashCode % 97)
      val page1 = Seq(
        ("LINE", "Wayne County West Virginia", 1, 0.3, 0.01),
        ("LINE", s"John Smith, ${40 + h}, 120, 1500, 75, 300", 1, 0.1, 0.10),
        ("LINE", s"Seymour Grady, ${h}, -, -", 1, 0.1, 0.15),
        ("LINE", s"${800 + h}, 40, 150", 1, 0.12, 0.17))
      val page2 = Seq(
        ("LINE", s"Mary Hall (Widow Hall), -, -, ${2000 + h}", 1, 0.6, 0.10),
        ("LINE", s"Robt. Stemple Jr., ${h % 50}", 2, 0.1, 0.10))
      token match {
        case None    => (page1, Some("p2"))
        case Some(_) => (page2, None)
      }
    }
  }
}
