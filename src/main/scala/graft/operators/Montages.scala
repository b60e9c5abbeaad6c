package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference engine's montage vocabulary re-expressed for the
  * Spark pipeline: named montage types carrying (lead, secondary)
  * channel pair tables, virtual-channel naming, and validation that a
  * channel set can be montaged.
  *
  * Pair tables are the standard clinical 10-20 EEG montages as shipped
  * by the reference (server/Montage.scala:263-329 — BipolarAntPos,
  * BipolarTransverse, ReferentialVsCz) plus a custom montage; virtual
  * channel naming `lead<->secondary` follows server/Montage.scala:28,185.
  */
object Montages {

  val Separator = "<->"

  sealed trait MontageType {
    def pairs: Seq[(String, String)]

    /** Virtual channel names produced by this montage. */
    def names: Set[String] = pairs.map(p => montageName(p._1, p._2)).toSet

    /** Every physical channel the montage touches. */
    def distinctChannels: Set[String] = pairs.flatMap(p => Seq(p._1, p._2)).toSet
  }

  case object NotMontaged extends MontageType {
    val pairs: Seq[(String, String)] = Nil
  }

  /** Longitudinal (anterior-posterior) bipolar montage. */
  case object BipolarAntPos extends MontageType {
    val pairs: Seq[(String, String)] = Seq(
      "Fp1" -> "F7", "F7" -> "T7", "T7" -> "P7", "P7" -> "O1",
      "Fp2" -> "F8", "F8" -> "T8", "T8" -> "P8", "P8" -> "O2",
      "Fp1" -> "F3", "F3" -> "C3", "C3" -> "P3", "P3" -> "O1",
      "Fp2" -> "F4", "F4" -> "C4", "C4" -> "P4", "P4" -> "O2",
      "Fz" -> "Cz", "Cz" -> "Fz"
    )
  }

  /** Transverse bipolar montage. */
  case object BipolarTransverse extends MontageType {
    val pairs: Seq[(String, String)] = Seq(
      "F7" -> "F3", "F3" -> "Fz", "Fz" -> "F4", "F4" -> "F8",
      "A1" -> "T7", "T7" -> "C3", "C3" -> "Cz", "Cz" -> "C4",
      "C4" -> "T8", "T8" -> "A2",
      "P7" -> "P3", "P3" -> "Pz", "Pz" -> "P4", "P4" -> "P8",
      "Fp1" -> "A1", "Fp2" -> "A2", "Q1" -> "A1", "Q2" -> "A2"
    )
  }

  /** Referential montage against the Cz electrode. */
  case object ReferentialVsCz extends MontageType {
    val pairs: Seq[(String, String)] = Seq(
      "Fp1" -> "Cz", "Fp2" -> "Cz", "F7" -> "Cz", "F8" -> "Cz",
      "T7" -> "Cz", "T8" -> "Cz", "P7" -> "Cz", "P8" -> "Cz",
      "F3" -> "Cz", "F4" -> "Cz", "C3" -> "Cz", "C4" -> "Cz",
      "P3" -> "Cz", "P4" -> "Cz", "Q1" -> "Cz", "Q2" -> "Cz",
      "F2" -> "Cz", "P2" -> "Cz"
    )
  }

  /** Runtime-configured montage. */
  final case class Custom(pairs: Seq[(String, String)]) extends MontageType

  def montageName(lead: String, secondary: String): String = lead + Separator + secondary

  /** Split a virtual channel name back into its montage pair. */
  def montagePair(name: String): Either[String, (String, Option[String])] =
    name.split(Separator).toList match {
      case head :: Nil => Right((head, None))
      case head :: last :: Nil => Right((head, Some(last)))
      case _ => Left(s"invalid montage name: $name")
    }

  /** Validate that `channelNames` covers every channel the montage
    * needs; Left(missing) otherwise — the reference's montageability
    * check.
    */
  def validate(channelNames: Set[String], mt: MontageType): Either[Set[String], Unit] = {
    val missing = mt.distinctChannels -- channelNames
    if (missing.isEmpty) Right(()) else Left(missing)
  }

  // ---------------------------------------------------------------------
  // Served error contract (reference server/Error.scala:25-113,
  // server/MontageValidationService.scala:1-42, server/Montage.scala:35-76)
  // ---------------------------------------------------------------------

  /** Wire name of a montage type (reference TSJsonSupport
    * MontageTypeFormat, TSJsonSupport.scala:250-257).
    */
  def wireName(mt: MontageType): String = mt match {
    case NotMontaged => "NOT_MONTAGED"
    case BipolarAntPos => "BIPOLAR_ANT_POS"
    case BipolarTransverse => "BIPOLAR_TRANSVERSE"
    case ReferentialVsCz => "REFERENTIAL_VS_CZ"
    case Custom(_) => "CUSTOM_MONTAGE"
  }

  /** Every physical channel any shipped montage touches — the set the
    * reference's validate-all endpoint checks a package against
    * (Montage.allMontageChannelNames, server/Montage.scala:31-33).
    */
  def allMontageChannelNames: Set[String] =
    ReferentialVsCz.distinctChannels | BipolarAntPos.distinctChannels |
      BipolarTransverse.distinctChannels

  /** The reference's served validation-error surface: name, reason,
    * channelNames, HTTP status, the `name: reason: channelNames`
    * rendering and the `{"error","reason","channelNames"}` wire JSON —
    * string-for-string (MontagesSpec pins the contract against the
    * reference's literals).
    */
  sealed trait ValidationError {
    def name: String
    def reason: String
    def channelNames: List[String] = List.empty
    def statusCode: Int

    final def render: String = s"$name: $reason: $channelNames"

    final def json: String = {
      // control characters escape like spray-json (the reference's
      // encoder): named escapes for \b \f \n \r \t, \u00XX for the
      // rest of c < 0x20 — interpolated user input (package ids,
      // montage names) must not produce invalid JSON
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\b' => "\\b"
        case '\f' => "\\f"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < 0x20 => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      s"""{"error":"${esc(name)}","reason":"${esc(reason)}",""" +
        s""""channelNames":[${channelNames.map(c => s""""${esc(c)}"""").mkString(",")}]}"""
    }
  }

  /** Channels existed in the request but not in the package. */
  final case class PackageMissingChannels(override val channelNames: List[String], packageId: String)
      extends ValidationError {
    val name = "PackageMissingChannels"
    val reason = s"Some of the requested channels do not exist in this package: $packageId"
    val statusCode = 404
  }

  /** The request carried neither channel key. */
  case object RequestMissingChannels extends ValidationError {
    val name = "RequestMissingChannels"
    val reason = "The request did not have a 'channels' or a 'virtualChannels' key"
    val statusCode = 400
  }

  /** A montage name contained too many separators. */
  final case class InvalidMontageName(montageName: String) extends ValidationError {
    val name = "InvalidMontageName"
    val reason = s"Invalid montage name: $montageName"
    val statusCode = 400
  }

  /** Lead and secondary channel data were not co-partitioned. */
  final case class MontageMisalignment(leadChannelName: String, secondaryChannelName: String)
      extends ValidationError {
    val name = "MontageMisalignment"
    val reason = "The lead channel did not correspond to the same file structure as the secondary channel"
    override val channelNames: List[String] = List(leadChannelName, secondaryChannelName)
    val statusCode = 400
  }

  /** The package is missing channels the montage requires. The reason
    * string embeds the montage's wire name QUOTED — the reference
    * interpolates `mt.toJson` (a JSON string literal, quotes included)
    * — or the literal "all montages" for the validate-all endpoint.
    */
  final case class PackageCannotBeMontaged(missingChannelNames: List[String], montageType: MontageType)
      extends ValidationError {
    val name = "PackageCannotBeMontaged"
    private val montageName = montageType match {
      case NotMontaged => "all montages"
      case mt => s"""the "${wireName(mt)}" montage"""
    }
    val reason = s"This package is missing channels that are required for $montageName"
    override val channelNames: List[String] = missingChannelNames
    val statusCode = 400
  }

  /** Reference Montage.validateMontage (server/Montage.scala:35-46):
    * NotMontaged accepts anything; otherwise every channel the montage
    * touches must be present.
    */
  def validateMontage(channelNames: List[String], mt: MontageType): Either[ValidationError, Unit] =
    mt match {
      case NotMontaged => Right(())
      case m => ensureAllChannelsArePresent(channelNames.toSet, m.distinctChannels, m)
    }

  /** Reference Montage.validateAllMontages (server/Montage.scala:48-52,
    * the MontageValidationService endpoint): the package must cover the
    * union channel set of every shipped montage.
    */
  def validateAllMontages(channelNames: List[String]): Either[ValidationError, Unit] =
    ensureAllChannelsArePresent(channelNames.toSet, allMontageChannelNames, NotMontaged)

  private def ensureAllChannelsArePresent(
      channelNames: Set[String],
      desired: Set[String],
      mt: MontageType
  ): Either[ValidationError, Unit] = {
    val missing = desired -- channelNames
    if (missing.isEmpty) Right(())
    else Left(PackageCannotBeMontaged(missing.toList, mt))
  }

  /** Apply a montage over ts(channel, t, v): one bucket-aligned
    * subtraction stream per pair (delegates to Timeseries.montage).
    */
  def apply(spark: SparkSession, ts: DataFrame, mt: MontageType, bucketUs: Long): DataFrame =
    Timeseries.montage(spark, ts, mt.pairs, bucketUs)

  /** Full virtual-channel CATALOG (reference GetChannelsQuery +
    * Montage.validate composed): every montage pair becomes a row with
    * a `valid` flag — false when a physical channel is missing from
    * the catalog or the pair's spans don't overlap (the reference's
    * montageability check, surfaced as data instead of a thrown
    * error) — and, for valid rows, the overlap window, the event count
    * feeding the virtual channel, its event rate over the overlap, and
    * the overlap's share of the pair's union span.
    *
    * Scale shape: the pair table is a literal relation and the
    * preserved side of both left joins; the physical catalog is
    * channel-cardinality (itself one partial agg over the stream) and
    * is the broadcast side of each, so the whole listing is
    * broadcast-join-only — no data-scale shuffle.
    */
  def virtualChannelCatalog(spark: SparkSession, catalog: DataFrame, mt: MontageType): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pairDf = mt.pairs.toDF("lead", "sec")
    val l = catalog.select(
      col("channel").as("lead"),
      col("start").as("ls"),
      col("end").as("le"),
      col("n_events").as("ln")
    )
    val r = catalog.select(
      col("channel").as("sec"),
      col("start").as("rs"),
      col("end").as("re"),
      col("n_events").as("rn")
    )
    val js = greatest(col("ls"), col("rs"))
    val je = least(col("le"), col("re"))
    val valid = col("ls").isNotNull && col("rs").isNotNull && js <= je
    val span = (je - js).cast("double")
    val union = (greatest(col("le"), col("re")) - least(col("ls"), col("rs"))).cast("double")
    // the pair table is the preserved side of both left joins, so it
    // cannot be the build side: broadcast the channel-grain catalog
    pairDf
      .join(broadcast(l), Seq("lead"), "left")
      .join(broadcast(r), Seq("sec"), "left")
      .select(
        concat(col("lead"), lit(Separator), col("sec")).as("channel"),
        valid.as("valid"),
        when(valid, js).as("start"),
        when(valid, je).as("end"),
        when(valid, col("ln") + col("rn")).as("n_events"),
        when(valid && span > 0.0, round((col("ln") + col("rn")) * lit(86400000000.0) / span, 6))
          .as("events_per_day"),
        when(valid && union > 0.0, round(span / union, 6)).as("coverage")
      )
  }

  /** Virtual-channel listing (reference GetChannelsQuery analog): the
    * montage's virtual channels with the time range over which both
    * underlying channels exist — physical catalog rows joined pairwise
    * through the broadcast pair table.
    */
  def virtualChannels(spark: SparkSession, catalog: DataFrame, mt: MontageType): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pairDf = mt.pairs.toDF("lead", "sec")
    val l = catalog.select(col("channel").as("lead"), col("start").as("ls"), col("end").as("le"))
    val r = catalog.select(col("channel").as("sec"), col("start").as("rs"), col("end").as("re"))
    broadcast(pairDf)
      .join(l, "lead")
      .join(r, "sec")
      .select(
        concat(col("lead"), lit(Separator), col("sec")).as("channel"),
        greatest(col("ls"), col("rs")).as("start"),
        least(col("le"), col("re")).as("end")
      )
      .filter(col("start") <= col("end"))
  }
}
