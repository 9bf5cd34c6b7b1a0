package graft.functions

/** Enrichment dictionaries + icon cascade (SURVEY.md §2.5, reference
  * `task.ts:68-253`). The maps are constant dictionaries — semantically
  * broadcast left-outer equi-joins with coalesce defaults; exposed both
  * as pure functions (for the typed pipeline) and as literal maps usable
  * via `typedLit`/`element_at` in DataFrame code.
  */
object Lookups {

  /** L1 source table (`task.ts:68-81`). */
  val CategoryMap: Map[String, String] = Map(
    "Geo" -> "Geophysical (including landslide)",
    "Met" -> "Meteorological (including flood)",
    "Safety" -> "General emergency and public safety",
    "Security" -> "Law enforcement, military, homeland and local/private security",
    "Rescue" -> "Rescue and recovery",
    "Fire" -> "Fire suppression and rescue",
    "Health" -> "Medical and public health",
    "Env" -> "Pollution and other environmental hazards",
    "Transport" -> "Public and private transportation",
    "Infra" -> "Utility, telecommunication, other non-transport infrastructure",
    "CBRNE" -> "Chemical, Biological, Radiological, Nuclear or High-Yield Explosive threat or attack",
    "Other" -> "Other events")

  /** L2 source table (`task.ts:83-123`). */
  val EventMap: Map[String, String] = Map(
    "storm" -> "Storm", "hail" -> "Hail", "rainfall" -> "Rainfall",
    "snowfall" -> "Snowfall", "thunderstorm" -> "Thunderstorm",
    "tornado" -> "Tornado", "tropCyclone" -> "Tropical Cyclone",
    "tropStorm" -> "Tropical Storm", "winterStorm" -> "Winter Storm",
    "weather" -> "Weather", "temperature" -> "Temperature",
    "coldOutbreak" -> "Cold Outbreak", "heatWave" -> "Heat Wave",
    "frost" -> "Frost", "windChill" -> "Wind Chill", "wind" -> "Wind",
    "avLightning" -> "Airport Lightning Threat",
    "avThunder" -> "Airport Thunder Threat", "fireWeather" -> "Fire Weather",
    "flood" -> "Flood", "flashFlood" -> "Flash Flood",
    "highWater" -> "High Water Level", "stormSurge" -> "Storm Surge",
    "riverFlood" -> "River Flood", "earthquake" -> "Earthquake",
    "tsunami" -> "Tsunami", "landTsunami" -> "Land Threat Tsunami",
    "beachTsunami" -> "Beach Threat Tsunami", "marine" -> "Marine",
    "galeWind" -> "Gale Wind", "hurricFrcWnd" -> "Hurricane Force Wind",
    "iceberg" -> "Iceberg", "largeSurf" -> "Large Coastal Surf",
    "largeSwell" -> "Large Swell Waves", "squall" -> "Squall",
    "stormFrcWind" -> "Storm Force Wind", "strongWind" -> "Strong Wind",
    "waterspout" -> "Waterspout", "snow" -> "Snow")

  val IconPrefix = "bb4df0a6-ca8d-4ba8-bb9e-3deb97ff015e:"
  val DefaultIcon = "Incidents/INC.01.IndicentGeneric.Yellow.png"

  /** L3 source table (`task.ts:127-173`). */
  val IconMap: Map[String, String] = Map(
    "snow" -> "NaturalHazards/NH.07.Snow.png",
    "snowfall" -> "NaturalHazards/NH.07.Snow.png",
    "rain" -> "NaturalHazards/NH.05.HeavyRain.png",
    "rainfall" -> "NaturalHazards/NH.05.HeavyRain.png",
    "wind" -> "NaturalHazards/NH.04.StrongWind.png",
    "storm" -> "NaturalHazards/NH.06.ElectricalStorm.png",
    "thunderstorm" -> "NaturalHazards/NH.06.ElectricalStorm.png",
    "tornado" -> "NaturalHazards/NH.16.Tornado.png",
    "tropCyclone" -> "NaturalHazards/NH.09.TropicalCyclone.png",
    "tropStorm" -> "NaturalHazards/NH.09.TropicalCyclone.png",
    "flood" -> "NaturalHazards/NH.01.Flood.png",
    "flashFlood" -> "NaturalHazards/NH.01.Flood.png",
    "earthquake" -> "NaturalHazards/NH.24.Earthquake.png",
    "tsunami" -> "NaturalHazards/NH.03.Tsunami.png",
    "marine" -> "Incidents/INC.24.Marine.png",
    "fire" -> "Incidents/INC.35.Fire.png",
    "fireWeather" -> "Incidents/INC.37.Fire.Vegetation.png",
    "landslide" -> "NaturalHazards/NH.18.Landslide.png",
    "stormSurge" -> "NaturalHazards/NH.02.StormSurge.png",
    "ice" -> "NaturalHazards/NH.08.Ice.png",
    "drought" -> "NaturalHazards/NH.22.Drought.png",
    "biosecurity" -> "NaturalHazards/NH.23.Biosecurity.png",
    "hail" -> "NaturalHazards/NH.06.ElectricalStorm.png",
    "winterStorm" -> "NaturalHazards/NH.07.Snow.png",
    "weather" -> "Incidents/INC.38.NaturalDisaster1.Urgent.png",
    "temperature" -> "Incidents/INC.38.NaturalDisaster1.Urgent.png",
    "coldOutbreak" -> "NaturalHazards/NH.08.Ice.png",
    "heatWave" -> "Incidents/INC.38.NaturalDisaster1.Urgent.png",
    "frost" -> "NaturalHazards/NH.08.Ice.png",
    "windChill" -> "NaturalHazards/NH.08.Ice.png",
    "avLightning" -> "NaturalHazards/NH.06.ElectricalStorm.png",
    "avThunder" -> "NaturalHazards/NH.06.ElectricalStorm.png",
    "highWater" -> "NaturalHazards/NH.01.Flood.png",
    "riverFlood" -> "NaturalHazards/NH.01.Flood.png",
    "landTsunami" -> "NaturalHazards/NH.03.Tsunami.png",
    "beachTsunami" -> "NaturalHazards/NH.03.Tsunami.png",
    "galeWind" -> "NaturalHazards/NH.04.StrongWind.png",
    "hurricFrcWnd" -> "NaturalHazards/NH.04.StrongWind.png",
    "iceberg" -> "Incidents/INC.24.Marine.png",
    "largeSurf" -> "Incidents/INC.24.Marine.png",
    "largeSwell" -> "Incidents/INC.24.Marine.png",
    "squall" -> "NaturalHazards/NH.04.StrongWind.png",
    "stormFrcWind" -> "NaturalHazards/NH.04.StrongWind.png",
    "strongWind" -> "NaturalHazards/NH.04.StrongWind.png",
    "waterspout" -> "NaturalHazards/NH.16.Tornado.png")

  /** P7 ColourCode name → hex (`task.ts:466-472`). */
  val ColorMap: Map[String, String] = Map(
    "Red" -> "#FF0000", "Orange" -> "#FF8918", "Yellow" -> "#FFFF00",
    "Green" -> "#00FF00", "Blue" -> "#0000FF")

  /** L1 — `CATEGORY_MAP[code] || code || 'Unknown'` (`task.ts:181-183`). */
  def categoryDescription(code: String): String =
    CategoryMap.getOrElse(code, if (code != null && code.nonEmpty) code else "Unknown")

  /** L2 — same pattern over EVENT_MAP (`task.ts:185-187`). */
  def eventDescription(code: String): String =
    EventMap.getOrElse(code, if (code != null && code.nonEmpty) code else "Unknown")

  /** L3 — six-level icon-resolution cascade (`task.ts:189-253`):
    * (1) Health/Fire category overrides; (2) normalize event+headline;
    * (3) 16 substring pattern groups against event OR headline;
    * (4) direct ICON_MAP lookup (normalized, then lowercased raw);
    * (5) severity fallback for Met/Geo; (6) default icon.
    * Pattern-group iteration order matters (first match wins) — kept as
    * the reference's literal order.
    */
  private val IconPatterns: Seq[(Seq[String], String)] = Seq(
    Seq("thunderstorm", "thunder") -> "thunderstorm",
    Seq("flashflood") -> "flashFlood",
    Seq("heavyrain", "rainfall") -> "rainfall",
    Seq("strongwind", "galewind", "stormwind") -> "wind",
    Seq("winterstorm") -> "winterStorm",
    Seq("stormsurge") -> "stormSurge",
    Seq("tropicalcyclone") -> "tropCyclone",
    Seq("tropicalstorm") -> "tropStorm",
    Seq("earthquake") -> "earthquake",
    Seq("tsunami") -> "tsunami",
    Seq("tornado") -> "tornado",
    Seq("flood") -> "flood",
    Seq("snow", "snowfall") -> "snow",
    Seq("hail") -> "hail",
    Seq("marine") -> "marine",
    Seq("waterspout") -> "waterspout")

  // DOCUMENTED DIVERGENCE: in the reference, map lookups are JS object
  // property reads, so prototype-chain keys ('constructor', 'toString',
  // ...) are truthy "hits" that leak function source text into output
  // (task.ts:182, 234). Scala Maps have no prototype chain; such codes
  // take the documented fallback path instead. This is a deliberate
  // sanitization, not an oversight.
  // JS `.toLowerCase().replace(/[\s-]+/g, '')` (task.ts:203-204):
  // locale-independent lowercase, then drop every JS-\s and '-'.
  private[functions] def normalize(s: String): String =
    JsCompat.jsWsRemove(s.toLowerCase(java.util.Locale.ROOT)).replace("-", "")

  def eventIcon(eventType: String, category: String, severity: String, headline: String): String = {
    if (category == "Health")
      return s"${IconPrefix}Incidents/INC.60.GHS08.HealthHazard.png"
    if (category == "Fire")
      return s"${IconPrefix}Incidents/INC.35.Fire.png"

    if (eventType == null || eventType.isEmpty)
      return s"$IconPrefix$DefaultIcon"

    val normalized = normalize(eventType)
    val headlineNormalized =
      if (headline != null && headline.nonEmpty) normalize(headline) else ""

    for ((pats, key) <- IconPatterns) {
      if (pats.exists(p => normalized.contains(p) || headlineNormalized.contains(p)))
        return IconPrefix + IconMap.getOrElse(key, DefaultIcon)
    }

    IconMap.get(normalized).orElse(IconMap.get(eventType.toLowerCase(java.util.Locale.ROOT))) match {
      case Some(icon) => return IconPrefix + icon
      case None       =>
    }

    if (category == "Met" || category == "Geo") {
      severity match {
        case "Severe" | "Extreme" =>
          return s"${IconPrefix}Incidents/INC.38.NaturalDisaster1.Urgent.png"
        case "Moderate" =>
          return s"${IconPrefix}Incidents/INC.39.NaturalDisaster2.NonUrgent.png"
        case "Minor" =>
          return s"${IconPrefix}Incidents/INC.40.NaturalDisaster3.InformationOnly.png"
        case _ =>
      }
    }

    s"$IconPrefix$DefaultIcon"
  }
}
