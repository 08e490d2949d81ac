package graft.etl

/** Typed, fail-soft error channel for the ingestion pipeline.
  *
  * Mirrors the reference's two error enums (reference:
  * src/errors.rs:15-46, Display/From impls src/impl_errors.rs:18-85) as
  * Scala sealed ADTs. Every variant carries enough context to log and
  * continue — one route's failure never aborts a run (reference:
  * src/main.rs:89-105).
  */
sealed trait GraftError extends Product with Serializable {
  def message: String
}

/** Ingestion-side failures (reference: src/errors.rs:32-46 `ApiError`). */
sealed trait ApiError extends GraftError
object ApiError {
  /** Transport-level failure (DNS, connect, TLS, timeout). */
  final case class NetworkError(url: String, cause: String) extends ApiError {
    def message = s"network error for $url: $cause"
  }
  /** Non-2xx HTTP status (reference: src/api.rs:81-87). */
  final case class HttpStatusError(url: String, status: Int) extends ApiError {
    def message = s"HTTP $status from $url"
  }
  /** Local filesystem failure while staging. */
  final case class FileSystemError(path: String, cause: String) extends ApiError {
    def message = s"filesystem error at $path: $cause"
  }
  /** Zero-byte payload — staged file is deleted (reference: src/api.rs:109-113). */
  final case class EmptyResponse(url: String) extends ApiError {
    def message = s"empty response from $url"
  }
  /** Plain-HTTP URL rejected; the reference answers status 426
    * Upgrade Required (reference: src/api.rs:61-66). */
  final case class InsecureUrl(url: String) extends ApiError {
    def message = s"insecure (non-HTTPS) url rejected [426]: $url"
  }
}

/** Transform/sink-side failures (reference: src/errors.rs:15-29 `ProcessorError`). */
sealed trait ProcessorError extends GraftError
object ProcessorError {
  /** Any Spark analysis/execution error while transforming or writing;
    * the reference stringifies PolarsError the same way
    * (reference: src/impl_errors.rs:58-62). */
  final case class Engine(context: String, cause: String) extends ProcessorError {
    def message = s"engine error in $context: $cause"
  }
  /** Schema-level rejection, e.g. an empty relation
    * (reference: src/processor.rs:31-35). */
  final case class Schema(context: String) extends ProcessorError {
    def message = s"schema error: $context"
  }
  /** Config load/validate failure (reference: src/models.rs:66-82). */
  final case class Config(cause: String) extends ProcessorError {
    def message = s"config error: $cause"
  }
}
