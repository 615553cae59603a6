package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.{AdcScore, CosineSimilarity, GramHashes, HyperplaneSig, MinHashSig, NearestCells, NfcNormalize, RollingHash, SimHashPortable, SortedIntersectCount, StripAccents, ZOrder64}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions for any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), making them first-class in
  * SQL: `SELECT cosine_sim(a.embedding, b.embedding) ...`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier(CosineSimilarity.name),
      CosineSimilarity.info, CosineSimilarity.builder))
    e.injectFunction((FunctionIdentifier(SortedIntersectCount.name),
      SortedIntersectCount.info, SortedIntersectCount.builder))
    e.injectFunction((FunctionIdentifier(GramHashes.name),
      GramHashes.info, GramHashes.builder))
    e.injectFunction((FunctionIdentifier(MinHashSig.name),
      MinHashSig.info, MinHashSig.builder))
    e.injectFunction((FunctionIdentifier(NearestCells.name),
      NearestCells.info, NearestCells.builder))
    e.injectFunction((FunctionIdentifier(HyperplaneSig.name),
      HyperplaneSig.info, HyperplaneSig.builder))
    e.injectFunction((FunctionIdentifier(RollingHash.name),
      RollingHash.info, RollingHash.builder))
    e.injectFunction((FunctionIdentifier(SimHashPortable.name),
      SimHashPortable.info, SimHashPortable.builder))
    e.injectFunction((FunctionIdentifier(ZOrder64.name),
      ZOrder64.info, ZOrder64.builder))
    e.injectFunction((FunctionIdentifier(AdcScore.name),
      AdcScore.info, AdcScore.builder))
    e.injectFunction((FunctionIdentifier(NfcNormalize.name),
      NfcNormalize.info, NfcNormalize.builder))
    e.injectFunction((FunctionIdentifier(StripAccents.name),
      StripAccents.info, StripAccents.builder))
    e.injectOptimizerRule(_ => graft.plans.ThresholdLevenshtein)
    e.injectOptimizerRule(_ => graft.plans.SortBelowExpensiveProject)
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    e.injectPlannerStrategy(_ => graft.queries.BucketPairsStrategy)
    // SQL surface of the native as-of join: TVF emits the unresolved
    // node, the resolution rule completes it once the catalog has
    // resolved the relation children.
    e.injectTableFunction((FunctionIdentifier(graft.plans.AsofTableFunction.name),
      graft.plans.AsofTableFunction.info, graft.plans.AsofTableFunction.builder))
    e.injectResolutionRule(_ => graft.plans.ResolveAsofJoin)
  }
}
