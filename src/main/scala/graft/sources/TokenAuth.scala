package graft.sources

import java.nio.charset.StandardCharsets
import java.util.Properties

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Expiring-credential lifecycle for paged extraction — the reference's
  * token machinery (/root/reference/src/utils/auth.py:178
  * `refresh_access_token`, :347 `ensure_valid_token`, :253 persisted
  * tokens in `etl_control.api_token_storage`, :124 HMAC request
  * signing) modeled as an offline-testable contract. No network exists
  * in this sandbox, so the token ENDPOINT is a pluggable function and
  * the CLOCK is injectable; what the library owns is the lifecycle:
  *
  *   - refresh-BEFORE-expiry: a token inside `refreshSkew` seconds of
  *     its expiry is treated as stale, so no request is ever sent with
  *     a token that could expire in flight (ensure_valid_token's
  *     early-refresh margin);
  *   - SINGLE-FLIGHT refresh: concurrent callers needing a token while
  *     it is stale trigger exactly ONE endpoint call — the rest block
  *     on the refresher and reuse its result (auth.py serializes via
  *     its storage row; here a plain monitor, since paging is
  *     driver-side);
  *   - PERSISTED artifact: refreshed tokens land in a small properties
  *     file (write-temp-then-swap; a crash mid-write leaves the old
  *     token readable, and a crash inside the swap's delete→rename
  *     window is recovered from the fully-written .tmp on load — at
  *     every instant some valid artifact is readable), and a fresh
  *     provider — a restarted run —
  *     reuses an unexpired persisted token without calling the
  *     endpoint at all (the api_token_storage behavior);
  *   - bounded retry: a failing endpoint is retried up to
  *     `maxAttempts` total attempts, then surfaces [[TokenAuth.AuthException]].
  *
  * Composes with [[PagedRestSource.fetchToLandingAuthed]]: each page
  * fetch gets a valid token; a transport that rejects the token (the
  * 401 path — server-side revocation) throws [[TokenAuth.AuthException]], which
  * invalidates the cache so the page's next retry attempt runs with a
  * freshly refreshed token.
  */
object TokenAuth {

  /** One credential: bearer + refresh grant + absolute expiry
    * (epoch seconds under the provider's clock). */
  case class Token(accessToken: String, refreshToken: String,
      expiresAt: Long)

  /** Token rejected by the API (the 401 path) or refresh exhausted. */
  final class AuthException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** HMAC-SHA256 request signature, lowercase hex — the reference
    * signs `partner_id|path|timestamp|token` with the partner key
    * (auth.py:124); callers build the payload, this owns the MAC. */
  def hmacSha256Hex(key: String, payload: String): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      key.getBytes(StandardCharsets.UTF_8), "HmacSHA256"))
    mac.doFinal(payload.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  /** The lifecycle owner. `refreshFn` is the token endpoint (gets the
    * prior token for its refresh grant, None on cold start); `clock`
    * returns epoch seconds; `storePath` (optional) persists tokens
    * across restarts. Driver-side only. The monitor serializing
    * [[validToken]] gives single-flight refresh per provider; it does
    * not serialize different providers, so the `refreshFn`s of
    * concurrently running pipeline sources may run at the same time. */
  final class CredentialProvider(
      refreshFn: Option[Token] => Token,
      clock: () => Long,
      storePath: Option[String] = None,
      hadoopConf: Configuration = new Configuration(),
      refreshSkew: Long = 60L,
      maxAttempts: Int = 3) {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")

    private[this] var cached: Option[Token] = None
    private[this] var loadedStore = false

    /** A token guaranteed to outlive `refreshSkew` more seconds;
      * refreshes (single-flight) when the cached/persisted one
      * doesn't. */
    def validToken(): Token = synchronized {
      if (!loadedStore) { cached = loadPersisted(); loadedStore = true }
      val now = clock()
      cached match {
        // t.expiresAt > now + skew, NOT expiresAt - skew > now — the
        // invalidated sentinel (Long.MinValue) would overflow the latter
        case Some(t) if t.expiresAt > now + refreshSkew => t
        case prior =>
          val t = refreshWithRetry(prior)
          cached = Some(t)
          persist(t)
          t
      }
    }

    /** Drop the cached token (the 401 path: the server rejected it —
      * e.g. revoked — even though the clock says it's fresh); the next
      * [[validToken]] refreshes. The persisted copy is left in place
      * and overwritten by that refresh. */
    def invalidate(): Unit = synchronized {
      cached = cached.map(_.copy(expiresAt = Long.MinValue))
      loadedStore = true // don't resurrect the rejected token from disk
    }

    private def refreshWithRetry(prior: Option[Token]): Token = {
      var attempt = 0
      while (true) {
        try return refreshFn(prior)
        catch {
          case scala.util.control.NonFatal(e) =>
            attempt += 1
            if (attempt >= maxAttempts)
              throw new AuthException(
                s"token refresh failed after $maxAttempts attempts", e)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    private def fs(p: Path) = p.getFileSystem(hadoopConf)

    /** Read one artifact file; None when missing or torn (a torn file
      * must fall through to the other epoch, not crash recovery). */
    private def readArtifact(p: Path): Option[Token] = {
      val f = fs(p)
      if (!f.exists(p)) None
      else scala.util.Try {
        val in = f.open(p)
        try {
          val props = new Properties()
          props.load(in)
          // Properties.store writes keys in unspecified order, so a
          // torn file can hold a parseable expires_at with NO
          // access_token — require every field before accepting, else
          // a truncated artifact would be served as a live credential.
          val access = props.getProperty("access_token")
          val refresh = props.getProperty("refresh_token")
          val expires = props.getProperty("expires_at")
          require(access != null && refresh != null && expires != null,
            "torn token artifact: missing field")
          Token(access, refresh, expires.toLong)
        } finally in.close()
      }.toOption
    }

    private def loadPersisted(): Option[Token] = storePath.flatMap { dir =>
      // the .tmp fallback closes persist()'s delete→rename crash
      // window: the tmp is fully written and closed BEFORE the swap,
      // so if the crash struck between delete and rename the newest
      // token is still recoverable from the tmp
      readArtifact(new Path(dir, "token.properties"))
        .orElse(readArtifact(new Path(dir, "token.properties.tmp")))
    }

    private def persist(t: Token): Unit = storePath.foreach { dir =>
      val tmp = new Path(dir, "token.properties.tmp")
      val dst = new Path(dir, "token.properties")
      val f = fs(dst)
      val out = f.create(tmp, true)
      try {
        val props = new Properties()
        props.setProperty("access_token", t.accessToken)
        props.setProperty("refresh_token", t.refreshToken)
        props.setProperty("expires_at", t.expiresAt.toString)
        props.store(out, "graft token artifact")
      } finally out.close()
      // swap: a crash before the delete leaves the previous token
      // readable; a crash between delete and rename is covered by
      // loadPersisted's .tmp fallback (the tmp was closed above) — at
      // every instant SOME valid token artifact is recoverable
      f.delete(dst, false)
      if (!f.rename(tmp, dst))
        throw new AuthException(s"could not persist token artifact at $dst")
    }
  }
}
