package graft.cap

/** Typed data model for the CAP pipeline (SURVEY.md §1; reference
  * interface `task.ts:27-61`). All leaf fields are strings with `''`
  * defaults, mirroring the reference's lenient projection
  * (`task.ts:420-453`); `polygon` is always an array after parse-time
  * normalization of the scalar-or-array XML quirk (`task.ts:647`).
  */
final case class CapAlert(
    identifier: String,
    sender: String,
    sent: String,
    status: String,
    msgType: String,
    scope: String,
    category: String,
    event: String,
    urgency: String,
    severity: String,
    certainty: String,
    senderName: String,
    headline: String,
    description: String,
    instruction: String,
    responseType: String,
    onset: String,
    expires: String,
    web: String,
    areaDesc: String,
    polygon: Seq[String],
    circle: String,
    colorCode: String, // '' = absent (JS falsy semantics, task.ts:456-476)
    cert: String)      // raw X509Certificate element text, '' = absent

/** One output row of the alert→features fan-out (X2). `json` is the full
  * CoT GeoJSON Feature in reference key order; the sibling columns make
  * the result queryable without JSON re-parsing.
  */
final case class CotFeature(
    id: String,
    geomType: String,
    isCenter: Boolean,
    callsign: String,
    icon: Option[String],
    remarks: String,
    json: String)

/** F2 quarantine row: an alert whose fan-out threw, with the error —
  * the engine's side-channel replacing the reference's log-and-drop
  * (task.ts:876-878). */
final case class QuarantinedAlert(identifier: String, error: String)
