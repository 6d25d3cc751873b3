package graft.tools

import graft.{ExchangeCountSpec, SparkSpec}

/** Re-measure main (test scope, not shipped) for ExchangeCountSpec: prints
  * each gated row's non-broadcast Exchange count beside its committed
  * bound, counted by the spec's own rule on the suites' Spark session.
  * Run with `sbt "Test/runMain graft.tools.CountExchanges"`. */
object CountExchanges {
  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.session
    spark.sparkContext.setLogLevel("ERROR")
    ExchangeCountSpec.bounds.foreach { case (name, max) =>
      println(s"XCOUNT $name ${ExchangeCountSpec.exchanges(name)(spark)} (bound $max)")
    }
    spark.stop()
  }
}
