package graft.app

/** Config-layer scalar transforms (S12/F8) — driver-side, not query ops.
  *
  * Secret interpolation mirrors the reference's
  * `{{resolve:secretsmanager:...}}` contract
  * (kafka_overwatch/aws_helpers/kafka_client_secrets.py:28-65) with a
  * pluggable resolver instead of a hard AWS dependency: the engine ships
  * the detection/substitution; deployments register real backends.
  */
object Secrets {

  private val Pattern = raw"\{\{resolve:([a-z]+):([^}]+)\}\}".r

  /** Resolve every `{{resolve:<backend>:<ref>}}` occurrence in a config
    * value via the given resolvers (backend -> ref -> secret). Unknown
    * backends fail loudly — a silent passthrough would ship the
    * placeholder as a password. */
  def interpolate(value: String,
                  resolvers: Map[String, String => String]): String =
    Pattern.replaceAllIn(value, m => {
      val backend = m.group(1)
      val ref = m.group(2)
      val r = resolvers.getOrElse(backend,
        throw new IllegalArgumentException(s"no resolver for backend '$backend'"))
      scala.util.matching.Regex.quoteReplacement(r(ref))
    })
}

/** F8: log redaction — JWT and password-ish values masked before a line
  * reaches a sink (reference: kafka_overwatch/config/logging.py:25-47). */
object LogRedaction {
  private val Jwt = raw"eyJ[A-Za-z0-9_-]+\.[A-Za-z0-9_-]+\.[A-Za-z0-9_-]+".r
  private val Password =
    raw"""(?i)(password|passwd|secret|token)(["']?\s*[:=]\s*["']?)[^\s"',;]+""".r

  def redact(line: String): String = {
    val noJwt = Jwt.replaceAllIn(line, "******")
    Password.replaceAllIn(noJwt, m => s"${m.group(1)}${m.group(2)}******")
  }
}
