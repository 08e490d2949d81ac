package graft.ingest

import graft.etl.ApiError
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration

/** Driver-side streaming HTTP ingestion (reference: src/api.rs).
  *
  * The reference stages each payload on disk with constant memory
  * before any columnar processing (reference: src/api.rs:103-107,
  * README.md:13); we keep that split: the JDK HttpClient streams the
  * body straight to a file (`BodyHandlers.ofFile`), and Spark only ever
  * reads the staged file — so executor parallelism starts at the scan,
  * not the download. One shared keep-alive client per run
  * (reference: src/api.rs:29-34, src/main.rs:49-50).
  */
object Http {

  /** 300 s request timeout, as the reference (reference: src/api.rs:31). */
  val RequestTimeout: Duration = Duration.ofSeconds(300)

  val UserAgent = "graft-client/1.0"

  /** Shared keep-alive client (reference: src/api.rs:29-34). The JDK
    * client pools connections internally.
    */
  lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()

  /** Mid-transfer progress callback: (cumulative bytes written,
    * Content-Length if the server sent one). The reference wraps its
    * byte stream in a progress bar the same way
    * (reference: src/api.rs:89-104).
    */
  type Progress = (Long, Option[Long]) => Unit

  val NoProgress: Progress = (_, _) => ()

  /** A throttled stderr reporter: logs `label` at most every `stepBytes`
    * of transfer (default 8 MiB) plus once at completion when the size
    * is known — the no-TTY stand-in for the reference's progress bar.
    */
  def loggedProgress(label: String, stepBytes: Long = 8L << 20): Progress = {
    var nextAt = stepBytes
    (written, total) => {
      val done = total.contains(written)
      if (written >= nextAt || done) {
        while (nextAt <= written) nextAt += stepBytes
        val totalTxt = total.map(t => f" / ${t / 1048576.0}%.1f MiB").getOrElse("")
        System.err.println(f"[ingest] $label: ${written / 1048576.0}%.1f MiB$totalTxt")
      }
    }
  }

  /** Copy `in` to `out` in bounded 64 KiB chunks — constant memory at
    * any payload size — invoking `onProgress` with the running total
    * after each chunk. Returns bytes copied. The seam is pure
    * stream-to-stream so specs can drive it without a network.
    */
  private[graft] def copyWithProgress(
      in: java.io.InputStream,
      out: java.io.OutputStream,
      contentLength: Option[Long],
      onProgress: Progress): Long = {
    val buf = new Array[Byte](64 * 1024)
    var written = 0L
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) {
        out.write(buf, 0, n)
        written += n
        onProgress(written, contentLength)
      }
      n = in.read(buf)
    }
    written
  }

  /** HTTPS-only gate — pure and unit-testable; the reference rejects
    * plain HTTP with status 426 Upgrade Required
    * (reference: src/api.rs:61-66).
    */
  def validateHttps(url: String): Either[ApiError, String] =
    if (url.startsWith("https://")) Right(url)
    else Left(ApiError.InsecureUrl(url))

  /** Stream `url` to `dest`, returning bytes written
    * (reference: src/api.rs:56-117). Failure modes map one-to-one to
    * the reference's gates: HTTPS-only, HTTP status, zero-byte payload
    * (staged file removed on empty, src/api.rs:109-113). The body
    * streams through [[copyWithProgress]], so `onProgress` observes the
    * transfer as it happens (reference: src/api.rs:89-104's progress
    * bar) without ever buffering the payload. A staging step that
    * fails on the local file system (creating `dest`'s directory,
    * opening `dest`) is a `FileSystemError`; nothing throws out.
    */
  def fetchToDisk(
      url: String,
      dest: Path,
      httpClient: HttpClient = client,
      onProgress: Progress = NoProgress): Either[ApiError, Long] =
    for {
      u <- validateHttps(url)
      _ <- staging(dest)(Option(dest.getParent).foreach(Files.createDirectories(_)))
      size <- download(u, dest, httpClient, onProgress)
    } yield size

  private def download(
      u: String,
      dest: Path,
      httpClient: HttpClient,
      onProgress: Progress): Either[ApiError, Long] =
    try {
      val req = HttpRequest
        .newBuilder(URI.create(u))
        .timeout(RequestTimeout)
        .header("User-Agent", UserAgent)
        .header("Accept", "*/*")
        .GET()
        .build()
      val resp = httpClient.send(req, HttpResponse.BodyHandlers.ofInputStream())
      val status = resp.statusCode()
      val in = resp.body()
      if (status < 200 || status >= 300) {
        in.close()
        discard(dest)
        Left(ApiError.HttpStatusError(u, status))
      } else {
        val contentLength = {
          val cl = resp.headers().firstValueAsLong("content-length")
          if (cl.isPresent) Some(cl.getAsLong) else None
        }
        staging(dest)(Files.newOutputStream(dest)) match {
          case Left(e) =>
            in.close()
            Left(e)
          case Right(out) =>
            val size =
              try copyWithProgress(in, out, contentLength, onProgress)
              finally {
                out.close()
                in.close()
              }
            if (size == 0L) {
              discard(dest)
              Left(ApiError.EmptyResponse(u))
            } else Right(size)
        }
      }
    } catch {
      case e: java.io.IOException =>
        discard(dest)
        Left(ApiError.NetworkError(u, String.valueOf(e.getMessage)))
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        Left(ApiError.NetworkError(u, String.valueOf(e.getMessage)))
    }

  /** `step` on `dest`'s file system, an IOException as `FileSystemError`. */
  private def staging[T](dest: Path)(step: => T): Either[ApiError, T] =
    try Right(step)
    catch {
      case e: java.io.IOException =>
        Left(ApiError.FileSystemError(dest.toString, String.valueOf(e.getMessage)))
    }

  /** Removes a partly staged `dest`; failing to is not the fetch's error. */
  private def discard(dest: Path): Unit =
    try Files.deleteIfExists(dest)
    catch { case _: java.io.IOException => () }
}
