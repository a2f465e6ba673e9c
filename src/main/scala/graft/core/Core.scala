package graft.core

/** Core data model of the graft engine.
  *
  * Rebuild of the reference's task/data model (see SURVEY.md §1):
  * every wrangling task is normalized into the canonical two-column
  * shape `(text, label_str)` (reference: `utils/data_utils.py:125,141,167,213`).
  */
final case class Example(text: String, label_str: String)

/** The four wrangling task kinds of the reference
  * (`utils/contants.py:11-30`, routing at `utils/data_utils.py:252-256`).
  */
sealed abstract class TaskKind(val name: String)
object TaskKind {
  case object EntityMatching extends TaskKind("entity_matching")
  case object DataImputation extends TaskKind("data_imputation")
  case object ErrorDetection extends TaskKind("error_detection_spelling")
  case object DataTransformation extends TaskKind("data_transformation")
}

/** Engine configuration. Defaults mirror the reference CLI defaults
  * (`run_wrangler.py:61-112`) and fixed constants (`utils/utils.py:20`,
  * `function_generator.py:171`).
  *
  * Quirk-compatibility flags (SURVEY.md §7.4.3) default to faithful
  * reproduction of the reference; set them to the corrected mode when the
  * reference behavior is a bug you don't want.
  */
final case class WranglerConfig(
    sepTok: String = "^",
    nanTok: String = "nan",
    k: Int = 3,                      // demonstrations per prompt
    d: Int = 100,                    // supervision hold-out size
    tolerance: Double = 0.021,       // numeric-equality tolerance
    threshold: Double = 0.51,        // demo-accuracy validation gate
    thresholdSup: Double = 10.0,     // supervision gate (miscalibrated in ref)
    seed: Long = 1234L,
    numTrials: Int = 1,
    numIter: Int = 1,
    depth: Int = 5,                  // repair-loop cap
    truncatingZip: Boolean = true    // tolerance compare truncates to shorter list
)

object WranglerConfig {
  val default: WranglerConfig = WranglerConfig()
}

/** Replaces the reference's `utils/contants.py` routing tables:
  * dataset name -> task kind, plus the imputation target column per dataset
  * (`contants.py:11-35`). The reference's `schema_matching` entry is declared
  * but unimplemented there (falls into `raise ValueError`,
  * `data_utils.py:310-311`) — intentionally not carried over.
  */
object TaskRegistry {
  val dataset2task: Map[String, TaskKind] = Map(
    "Amazon-Google"            -> TaskKind.EntityMatching,
    "Beer"                     -> TaskKind.EntityMatching,
    "DBLP-ACM"                 -> TaskKind.EntityMatching,
    "DBLP-GoogleScholar"       -> TaskKind.EntityMatching,
    "Fodors-Zagats"            -> TaskKind.EntityMatching,
    "iTunes-Amazon"            -> TaskKind.EntityMatching,
    "Walmart-Amazon"           -> TaskKind.EntityMatching,
    "Buy"                      -> TaskKind.DataImputation,
    "Restaurant"               -> TaskKind.DataImputation,
    "Hospital"                 -> TaskKind.ErrorDetection,
    "Adult"                    -> TaskKind.ErrorDetection,
    "bing-query-logs"          -> TaskKind.DataTransformation,
    "bing-query-logs-semantics"-> TaskKind.DataTransformation,
    "bing-query-logs-unit"     -> TaskKind.DataTransformation,
    "stackoverflow"            -> TaskKind.DataTransformation,
    "FF-Trifacta-GoogleRefine" -> TaskKind.DataTransformation,
    "headcase"                 -> TaskKind.DataTransformation
  )

  /** Imputation target column per dataset (`contants.py:32-35`). */
  val imputeCol: Map[String, String] = Map(
    "Buy"        -> "manufacturer",
    "Restaurant" -> "city"
  )

  def taskFor(dataset: String): TaskKind =
    dataset2task.getOrElse(dataset,
      throw new IllegalArgumentException(s"Unknown dataset: $dataset"))
}
