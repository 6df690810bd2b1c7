package graft

/** Fleet-wide gate for the r8 correctness regression class: the
  * driver's hash canonicalization is only exact for integers up to
  * 2^53 (float64 mantissa), and the two r8 queries whose DECIMAL(38,0)
  * sufficient statistics exceeded it (pass@k's sum_all ≈ 6e16,
  * factorized regression's syy ≈ 1.25e19) were the suite's only red
  * rows — rows_match and schema_match true, hash_match false. The fix
  * is representational (emit wide-decimal statistics as digit strings,
  * value-identical in Spark and DuckDB), and this sweep makes the rule
  * structural: no query may emit a decimal column wide enough to leave
  * the hash's exact domain. DECIMAL(15,s) tops out below 2^53; 16+
  * digits can exceed it, so 16+ must ship as strings.
  *
  * The value-level half of the gate (LONG columns whose sf0.1 values
  * overflow 2^53) lives in tools/check_oracle.py, which scans every
  * emitted value of the verify dump — this spec is the cheap
  * type-level half that runs on every `sbt test`.
  */
class HashDomainSweepSpec extends SparkSpec {

  // the queries are built once for this sweep and
  // SinglePartitionSweepSpec's (see SinglePartitionSweepSpec.sweep)
  test("no query emits a decimal wider than the hash's exact domain") {
    val offenders = SinglePartitionSweepSpec.sweep(spark, sf).flatMap {
      case (name, Left(err)) =>
        fail(s"$name failed to build at sf0.001: $err")
      case (name, Right(b)) =>
        if (b.wideDecimals.nonEmpty)
          Some(s"$name (${b.wideDecimals.mkString("; ")})")
        else None
    }
    assert(offenders.isEmpty,
      "queries emitting >15-digit decimals (cast the statistic to " +
        "string on BOTH engines — see Alignment/Learning):\n  " +
        offenders.mkString("\n  "))
  }
}
