package graft.server

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** The auth check of the HTTP and Flight servers (reference
  * `src/server/flightsql/mod.rs:58-106`): an `Authorization` header passes
  * as `Bearer <token>` when a bearer token is configured or as
  * `Basic base64(user:password)` when basic credentials are; with neither
  * configured every request passes.
  *
  * Credentials are compared in constant time: plain string equality
  * short-circuits at the first differing character — a timing side
  * channel on secret comparison. `MessageDigest.isEqual` compares the full
  * byte arrays time-independent of content (it still reveals the length,
  * which is standard and benign for `Bearer`/`Basic` header shapes).
  */
object AuthCheck {
  def allows(header: String, bearerToken: Option[String],
      basicAuth: Option[(String, String)]): Boolean =
    (bearerToken.isEmpty && basicAuth.isEmpty) ||
      bearerToken.exists(t => sameSecret(s"Bearer $t", header)) ||
      basicAuth.exists { case (user, pass) =>
        sameSecret("Basic " + Base64.getEncoder.encodeToString(
          s"$user:$pass".getBytes(UTF_8)), header)
      }

  private def sameSecret(expected: String, provided: String): Boolean =
    java.security.MessageDigest.isEqual(
      expected.getBytes(UTF_8), Option(provided).getOrElse("").getBytes(UTF_8))
}
