package perfbench

/** The generators' own contract, checked at set-up of every run that
  * uses them: the same seed regenerates identical inputs (row count and
  * checksum per table), another seed gives another delta, and every
  * fact date lies inside the calendar dimension the pipeline builds.
  */
object GenCheck {
  /** `base` is the base extract already generated for this run. */
  def bikes(ctx: Ctx, base: BikesGen.Batch): Unit = {
    val seed = ctx.seed
    def fp(day: Int) = BikesGen.fingerprint(BikesGen.batch(seed, day))
    if (fp(0) != BikesGen.fingerprint(base))
      ctx.fail(s"generator: seed $seed base extract is not reproducible")
    Seq(1, 2).foreach { day =>
      if (fp(day) != fp(day))
        ctx.fail(s"generator: seed $seed day $day is not reproducible")
    }
    if (BikesGen.fingerprint(BikesGen.batch(seed + 1, 1)) == fp(1))
      ctx.fail(s"generator: seeds $seed and ${seed + 1} give the same delta")
    (base +: Seq(1, 64).map(BikesGen.batch(seed, _))).foreach { b =>
      val bad = b.orders.map(_.date).filter(d =>
        d.isBefore(BikesGen.calStart) || d.isAfter(BikesGen.calEnd))
      if (bad.nonEmpty)
        ctx.fail(s"generator: day ${b.day} has ${bad.size} order dates " +
          "outside the calendar")
    }
  }

  /** `corpus` is the corpus already generated for this run. */
  def corpus(ctx: Ctx, corpus: CorpusGen.Corpus): Unit = {
    val seed = ctx.seed
    val fp = CorpusGen.fingerprint(corpus)
    if (CorpusGen.fingerprint(CorpusGen.build(seed)) != fp)
      ctx.fail(s"generator: corpus of seed $seed is not reproducible")
    if (CorpusGen.fingerprint(CorpusGen.build(seed + 1)) == fp)
      ctx.fail(s"generator: seeds $seed and ${seed + 1} give the same corpus")
  }
}
