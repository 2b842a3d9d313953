"""spark-submit entry: evaluate the flagship transcript ruleset over a
parquet input dir and print throughput. The cluster-shaped counterpart
of bench.py (``tools/submit.sh tools/jobs/rule_eval_job.py <input_dir>``)."""

import sys
import time

from pyspark.sql import SparkSession


USAGE = "usage: rule_eval_job.py <input_dir>  (a parquet dir of transcript turns)"


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(USAGE)
    input_dir = sys.argv[1]
    spark = SparkSession.builder.appName("osprey_rule_eval").getOrCreate()
    from osprey_spark.sml import RulesetCompiler

    rules = {
        "main.sml": """
ConvId: Entity[str] = EntityJson(type='Conversation', path='$.conv_id')
Text: str = JsonData(path='$.text')
R = Rule(when_all=[TextContains(text=Text, phrase='hello')], description='hello rule')
WhenRules(rules_any=[R], then=[DeclareVerdict(verdict='flag_turn')])
"""
    }
    df = spark.read.parquet(input_dir)
    plan = RulesetCompiler(rules, input_schema=df.schema, action_name_col="role").compile()
    out = plan.apply(df, passthrough=["conv_id", "turn_idx"])
    n = df.count()
    t0 = time.perf_counter()
    out.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"rows={n} sec={dt:.2f} turns_per_sec={n / dt:,.0f}")
    spark.stop()


if __name__ == "__main__":
    main()
