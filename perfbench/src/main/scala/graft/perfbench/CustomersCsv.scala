package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Base64, UUID}

import scala.util.Random

import org.apache.spark.sql.types._

/** Seeded customers-shaped CSV, the shape of the reference's landing file
  * (FIXTURES.md §1): CamelCase header with a lower-case `rowguid`,
  * `FALSE` name style, ~40% empty MiddleName, a backslash in SalesPerson,
  * base64 password hash and salt, braced GUIDs and `yyyy-MM-dd HH:mm:ss`
  * timestamps. Comma-separated, no quoting, empty string for NULL. */
object CustomersCsv {
  val Header: Seq[String] = Seq("CustomerID", "NameStyle", "Title",
    "FirstName", "MiddleName", "LastName", "Suffix", "CompanyName",
    "SalesPerson", "EmailAddress", "Phone", "PasswordHash", "PasswordSalt",
    "rowguid", "ModifiedDate")

  /** What `CsvSource.infer` must report for a generated file: the §1 types,
    * with Spark's CSV inference picking the narrowest integral type for
    * CustomerID (ids below 2^31 infer as int) and string for an all-empty
    * Suffix. */
  val Inferred: StructType = StructType(Header.map {
    case "CustomerID" => StructField("CustomerID", IntegerType)
    case "NameStyle" => StructField("NameStyle", BooleanType)
    case "ModifiedDate" => StructField("ModifiedDate", TimestampType)
    case c => StructField(c, StringType)
  })

  /** One generated row; `middle`/`suffix` are None where the CSV field is
    * empty. `modified` is epoch seconds (UTC). */
  final case class Row(id: Long, title: String, first: String,
                       middle: Option[String], last: String,
                       suffix: Option[String], company: String,
                       salesPerson: String, email: String, phone: String,
                       hash: String, salt: String, guid: String,
                       modified: Long) {
    def modifiedText: String = Fmt.format(java.time.LocalDateTime
      .ofEpochSecond(modified, 0, java.time.ZoneOffset.UTC))
    def csv: String = Seq(id.toString, "FALSE", title, first,
      middle.getOrElse(""), last, suffix.getOrElse(""), company,
      salesPerson, email, phone, hash, salt, guid, modifiedText)
      .mkString(",")
  }

  private val Fmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Titles = Array("Mr.", "Ms.", "Sr.", "Sra.")
  private val Firsts = Array("Orlando", "Keith", "Donna", "Janet", "Lucy",
    "Rosmarie", "Dominic", "Kathleen", "Katherine", "Johnny", "Christopher",
    "David", "John", "Jean", "Jinghao", "Kerim", "Megan", "Pamela")
  private val Lasts = Array("Gee", "Harris", "Carreras", "Gates", "Harrington",
    "Carroll", "Gash", "Garza", "Harding", "Caprio", "Beck", "Liu", "Hanif",
    "Brown", "Sotelo", "Campbell", "Vargas", "Mitchell")
  private val Companies = Array("A Bike Store", "Progressive Sports",
    "Advanced Bike Components", "Modular Cycle Systems",
    "Metropolitan Sports Supply", "Aerobic Exercise Company",
    "Associated Bikes", "Rural Cycle Emporium", "Sharp Bikes",
    "Bikes and Motorbikes", "Bulk Discount Store", "Trailblazing Sports")
  private val Reps = Array("pamela0", "david8", "jillian0", "garrett1",
    "jae0", "linda3", "jose1", "shu0", "jose0", "michael9")
  private val Base = java.time.LocalDateTime.of(2005, 7, 1, 0, 0)
    .toEpochSecond(java.time.ZoneOffset.UTC)

  /** `n` rows with ids from `firstId` upward (seeded gaps of 1–4, like the
    * reference's non-contiguous ids). */
  def rows(rnd: Random, firstId: Long, n: Int): IndexedSeq[Row] = {
    var id = firstId
    IndexedSeq.fill(n) {
      val first = Firsts(rnd.nextInt(Firsts.length))
      val last = Lasts(rnd.nextInt(Lasts.length))
      val hash = new Array[Byte](32)
      val salt = new Array[Byte](4)
      rnd.nextBytes(hash); rnd.nextBytes(salt)
      val r = Row(id, Titles(rnd.nextInt(Titles.length)), first,
        if (rnd.nextDouble() < 0.4) None
        else Some(s"${('A' + rnd.nextInt(26)).toChar}."),
        last,
        if (rnd.nextDouble() < 0.01) Some("Jr.") else None,
        Companies(rnd.nextInt(Companies.length)),
        "adventure-works\\" + Reps(rnd.nextInt(Reps.length)),
        s"${first.toLowerCase}${id % 10}@adventure-works.com",
        f"${100 + rnd.nextInt(900)}%d-555-${rnd.nextInt(10000)}%04d",
        Base64.getEncoder.encodeToString(hash),
        Base64.getEncoder.encodeToString(salt),
        "{" + new UUID(rnd.nextLong(), rnd.nextLong()).toString.toUpperCase + "}",
        // Whole days, with one in ten at a non-midnight time.
        Base + 86400L * rnd.nextInt(1500) +
          (if (rnd.nextInt(10) == 0) rnd.nextInt(86400) else 0))
      id += 1 + rnd.nextInt(4)
      r
    }
  }

  def file(rows: Seq[Row]): Array[Byte] =
    (Header.mkString(",") +: rows.map(_.csv)).mkString("", "\n", "\n")
      .getBytes(UTF_8)

  /** The same rows as line-delimited JSON with the CSV's key spelling, the
    * staged shape `Transcode.toJson` produces (null fields omitted). */
  def json(rows: Seq[Row]): Array[Byte] = rows.map { r =>
    def s(v: String) = "\"" + v.replace("\\", "\\\\") + "\""
    val fields = Seq(
      Some(s""""CustomerID":${r.id}"""), Some(""""NameStyle":false"""),
      Some(s""""Title":${s(r.title)}"""), Some(s""""FirstName":${s(r.first)}"""),
      r.middle.map(m => s""""MiddleName":${s(m)}"""),
      Some(s""""LastName":${s(r.last)}"""),
      r.suffix.map(x => s""""Suffix":${s(x)}"""),
      Some(s""""CompanyName":${s(r.company)}"""),
      Some(s""""SalesPerson":${s(r.salesPerson)}"""),
      Some(s""""EmailAddress":${s(r.email)}"""),
      Some(s""""Phone":${s(r.phone)}"""),
      Some(s""""PasswordHash":${s(r.hash)}"""),
      Some(s""""PasswordSalt":${s(r.salt)}"""),
      Some(s""""rowguid":${s(r.guid)}"""),
      Some(s""""ModifiedDate":${s(r.modifiedText)}"""))
    fields.flatten.mkString("{", ",", "}")
  }.mkString("", "\n", "\n").getBytes(UTF_8)
}
