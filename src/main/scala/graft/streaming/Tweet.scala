package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** The canonical 15-field tweet envelope (SURVEY §1.2). The reference
  * copy-pastes this StructType into every streaming job
  * (job1_bots.py:108-125, job2.py, job3_sentiment.py,
  * job4_locationsreal_time.py:97-114, job5.py); here it is defined
  * once and DERIVED from the case class, so the typed `Dataset[Tweet]`
  * view and the JSON-decode schema can never drift apart. All fields
  * are nullable, as in the reference's declaration (numerics/booleans
  * as Option). */
final case class Tweet(
    crypto_type: String,
    user_name: String,
    user_location: String,
    user_description: String,
    user_created: String,
    user_followers: Option[Int],
    user_friends: Option[Int],
    user_favourites: Option[Int],
    user_verified: Option[Boolean],
    date: String,
    text: String,
    hashtags: String,
    source: String,
    is_retweet: Option[Boolean],
    timestamp: String)

object Tweet {
  /** The declared envelope schema — pass to
    * [[StreamOps.decodeJsonEnvelope]]. */
  val schema: StructType = Encoders.product[Tweet].schema

  /** Positional column order of the producers' headerless CSV (13
    * columns — no crypto_type/timestamp, which the producer injects;
    * job4_spam.py:34-38, job1_locations.py headerless read). Feed to
    * `Sources.headerlessCsv`. */
  val csvColumns: Seq[String] = Seq(
    "user_name", "user_location", "user_description", "user_created",
    "user_followers", "user_friends", "user_favourites", "user_verified",
    "date", "text", "hashtags", "source", "is_retweet")
}
