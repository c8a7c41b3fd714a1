package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's one hard-coded query (SURVEY.md §0):
  *
  *   SELECT d.donor_state, SUM(dn.amount)
  *   FROM donations dn JOIN donors d USING (donor_id)
  *   GROUP BY d.donor_state
  *
  * plus its strict-FK variant: the reference *throws* on a donation whose
  * donor is missing (`/root/reference/D/Program.cs:310`,
  * KeyNotFoundException) — integrity asserted, not filtered.
  *
  * Both run as the reference's join (O11-O13, `D/Program.cs:289-315`): each
  * side hash-shuffles on donor_id, the donor rows of a shuffle partition are
  * loaded into a hash table (the reference's per-chunk
  * `Dictionary<donorId, state>`, here the build side of a
  * `ShuffledHashJoinExec`, BuildRight), and the donations stream past it
  * into the partial sum. No side is sorted.
  *
  * Memory bound: the donors of one shuffle partition must fit in one task's
  * memory, as the reference's ≤1 M-donor chunk had to (`D/Program.cs:35`).
  * Hot-donor skew lands on the streamed donation side, which AQE's skew
  * split may cut into several probe tasks (O10). Trade-off: the hint keeps
  * the shuffle even where a donor table under the broadcast threshold
  * would otherwise broadcast.
  *
  * The ~52-row result is coalesced to one partition before the sort, so
  * the ordering needs no range exchange and no sampling job.
  */
object Fidelity {

  /** Inner-join + group-sum, the reference's O11-O14 pipeline. */
  def donationTotalByState(donors: DataFrame, donations: DataFrame): DataFrame =
    totalByState(donors, donations, strict = false)

  /** Strict variant (O12): any orphan donation fails the job, mirroring the
    * reference's throw. Left join + raise_error keeps the plan fully
    * codegen'd until the error branch fires.
    *
    * Orphan detection uses an explicit match sentinel, NOT
    * `donor_state IS NULL`: a donor row whose state *field* is blank also
    * yields a null state after the join, and the reference throws only on a
    * missing donor_id key (`D/Program.cs:310`) — a blank state is a
    * legitimate group value there, so it must be here too.
    */
  def donationTotalByStateStrict(donors: DataFrame, donations: DataFrame): DataFrame =
    totalByState(donors, donations, strict = true)

  /** Both queries, with `donorJoin` as the donor side's join hint; specs
    * build the `merge` form to check the hash join against a sort-merge one.
    */
  private[graft] def totalByState(donors: DataFrame, donations: DataFrame, strict: Boolean,
      donorJoin: String = "shuffle_hash"): DataFrame = {
    val byDonor =
      if (!strict) donations.join(donors.hint(donorJoin), Seq("donor_id"))
      else
        donations
          .join(donors.withColumn("_matched", lit(true)).hint(donorJoin), Seq("donor_id"),
            "left_outer")
          .select(
            when($"_matched".isNull,
              raise_error(concat(lit("orphan donation: donor_id="), $"donor_id")))
              .otherwise($"donor_state").as("donor_state"),
            $"amount")
    byDonor
      .groupBy($"donor_state")
      .agg(round(sum($"amount"), 2).as("total"))
      .coalesce(1)
      .orderBy($"donor_state")
  }
}
