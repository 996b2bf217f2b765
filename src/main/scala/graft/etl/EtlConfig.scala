package graft.etl

/** Pipeline configuration — the Spark-side equivalent of the reference's
  * appsettings binding (TaxiEtl/TextEtl.Cli/appsettings.json:1-15,
  * TaxiEtl/TaxiEtl.Application/DTO/EtlSettingsDto.cs:11-54). The DI /
  * IOptions machinery collapses to one case class.
  *
  * @param inputCsvPath          source CSV (single file; line numbers are
  *                              file-order ordinals)
  * @param duplicatesCsvPath     side-output directory for dedup losers
  *                              (raw pre-parse values + LineNumber)
  * @param insertedPath          target "table" (parquet directory; stands in
  *                              for dbo.Trips — SURVEY §2.1 S5)
  * @param delimiter             single-char CSV delimiter
  *                              (EtlSettingsDto.cs:48, default ',')
  * @param inputDateTimeFormat   optional exact timestamp format; when None
  *                              a lenient multi-format parse is used,
  *                              mirroring invariant-culture DateTime.TryParse
  *                              (TripRowParserService.cs:160-213)
  * @param enableTimeZoneConversion EST→UTC toggle (EtlSettingsDto.cs:36-43)
  * @param inputTimeZoneId       IANA zone id; the reference's Windows id
  *                              "Eastern Standard Time" == America/New_York
  */
final case class EtlConfig(
    inputCsvPath: String,
    duplicatesCsvPath: String,
    insertedPath: String,
    delimiter: String = ",",
    inputDateTimeFormat: Option[String] = None,
    enableTimeZoneConversion: Boolean = true,
    inputTimeZoneId: String = "America/New_York")
