package vigil

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Toxicity lexicon filter (north rule [NR], SURVEY.md §2.10 L4).
  *
  * A word-level lexicon check in the C4 "bad words" style (Raffel et al.
  * 2020): a turn is flagged when any lowercased, punctuation-stripped token
  * appears in the lexicon. The lexicon here is a deliberately small,
  * mild placeholder set (en+pt) — the mechanism (broadcast-able literal
  * array + arrays_overlap, fully codegen'd, no UDF) is the deliverable; a
  * production lexicon drops in as data.
  */
object Toxicity {
  val Lexicon: Seq[String] = Seq(
    // en (mild placeholder entries)
    // NOTE: entries must not collide with common words of the supported
    // languages ("die"/"hell" are ordinary German words — excluded)
    "idiot", "stupid", "moron", "dumbass", "jerk", "scum",
    "hateful", "bastard", "crap", "damn",
    "kill", "hate",
    // pt
    "idiota", "burro", "imbecil", "estúpido", "lixo", "nojento",
    "maldito", "inferno", "odeio", "morra", "desgraçado"
  ).map(_.toLowerCase(java.util.Locale.ROOT))

  /** Tokens = lowercased words with edge punctuation stripped. */
  def tokens(clean: Column): Column =
    filter(
      transform(split(lower(clean), " "),
        w => regexp_replace(w, "^\\p{P}+|\\p{P}+$", "")),
      w => length(w) > 0)

  /** True when any token is in the lexicon. */
  def isToxic(clean: Column): Column =
    arrays_overlap(tokens(clean), lit(Lexicon.toArray))
}
