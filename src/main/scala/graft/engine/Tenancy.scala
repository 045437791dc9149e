package graft.engine

import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** Multi-tenant service layer (SURVEY.md §2.12 M9/M10, §2.3 F1), ported
  * behavior-for-behavior from the reference's `serve_flight.py:41-124` and
  * `admin_setup_storage.py:24-47` — auth, storage layout, and the filename
  * validation gate are service-plumbing, not relational ops, so they stay
  * plain Scala with no Spark dependency.
  */
object Tenancy {

  /** One tenant record from users.json (`users.json:2-13`): SHA-256 hex of
    * the password plus the industry vertical that fixes which model pair
    * (stg/fct) runs for this tenant's uploads.
    */
  final case class Tenant(clientId: String, passwordSha256: String,
                          industryType: String)

  final val Industries = Set("corporate", "education", "hospital")
  final val SubFolders = Seq("Raw", "Clean", "Downloads")

  /** Minimal parser for the reference's users.json shape — a flat map of
    * client_id -> {password, industry_type}. Hand-rolled (no JSON library
    * in the dependency budget); tolerant of whitespace/ordering, intolerant
    * of anything outside the known two-field schema.
    */
  def parseUsersJson(json: String): Seq[Tenant] = {
    val entry =
      """"([^"]+)"\s*:\s*\{([^}]*)\}""".r
    val field = """"(password|industry_type)"\s*:\s*"([^"]*)"""".r
    entry.findAllMatchIn(json).map { m =>
      val fields = field.findAllMatchIn(m.group(2))
        .map(f => f.group(1) -> f.group(2)).toMap
      Tenant(m.group(1),
        fields.getOrElse("password",
          throw new IllegalArgumentException(s"tenant ${m.group(1)}: no password")),
        fields.getOrElse("industry_type", "corporate").toLowerCase)
    }.toSeq
  }

  /** SHA-256 hex digest of the trimmed password (`serve_flight.py:47-52`:
    * the reference strips whitespace before hashing).
    */
  def sha256Hex(password: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(password.trim.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** M9 — authenticate: constant-shape check of client existence + password
    * hash equality (`serve_flight.py:60-78`). Returns the tenant on
    * success.
    */
  def authenticate(users: Seq[Tenant], clientId: String,
                   password: String): Either[String, Tenant] =
    users.find(_.clientId == clientId) match {
      case None => Left(s"unknown client: $clientId")
      case Some(t) if !MessageDigest.isEqual(
        t.passwordSha256.getBytes("UTF-8"),
        sha256Hex(password).getBytes("UTF-8")) => Left("invalid password")
      case Some(t) => Right(t)
    }

  /** [[authenticate]] with one uniform failure, as the reference's: an
    * unknown client and a bad password look alike (no enumeration).
    */
  def authenticated(users: Seq[Tenant], clientId: String,
                    password: String): Tenant =
    authenticate(users, clientId, password).fold(_ =>
      throw new IllegalArgumentException("AUTHENTICATION_FAILED"), identity)

  /** F1 — filename validation gate (`serve_flight.py:109-124`): the upload
    * filename must contain the tenant's industry keyword, case-insensitive.
    * Additionally the name must be a plain file name — no path separators
    * or '..' — so a crafted filename cannot escape the tenant's storage
    * zone (the reference is vulnerable to this; we are not).
    */
  def validateFilename(tenant: Tenant, filename: String): Either[String, Unit] =
    if (filename.isEmpty || filename.contains('/') || filename.contains('\\') ||
      filename.contains("..") || filename.startsWith("."))
      Left(s"REJECTED: '$filename' is not a plain file name")
    else if (filename.toLowerCase.contains(tenant.industryType)) Right(())
    else Left(s"REJECTED: user of type '${tenant.industryType}' may only " +
      s"upload files containing '${tenant.industryType}' in the name")

  private def requirePlainName(filename: String): Unit =
    require(filename.nonEmpty && !filename.contains('/') &&
      !filename.contains('\\') && !filename.contains("..") &&
      !filename.startsWith("."), s"not a plain file name: $filename")

  /** Per-upload warehouse name `{client}_{industry}_{basename}`
    * (`serve_flight.py:129-141`) — a pure function of the upload identity,
    * so re-uploads overwrite their own warehouse and never another's.
    */
  def uploadWarehouseName(tenant: Tenant, filename: String): String = {
    requirePlainName(filename)
    val base = filename.replaceAll("\\.[^.]*$", "")
    s"${tenant.clientId}_${tenant.industryType}_$base"
  }

  /** Tenant storage layout (`admin_setup_storage.py:29-44`):
    * storage/<client>/{Raw,Clean,Downloads}.
    */
  def provisionStorage(storageBase: Path, users: Seq[Tenant]): Unit =
    users.foreach { t =>
      SubFolders.foreach { sub =>
        Files.createDirectories(storageBase.resolve(t.clientId).resolve(sub))
      }
    }

  def rawPath(storageBase: Path, tenant: Tenant, filename: String): Path = {
    requirePlainName(filename)
    storageBase.resolve(tenant.clientId).resolve("Raw").resolve(filename)
  }

  def cleanDir(storageBase: Path, tenant: Tenant, filename: String): Path =
    storageBase.resolve(tenant.clientId).resolve("Clean")
      .resolve(uploadWarehouseName(tenant, filename))
}
