from datacheck_spark.rules.compiler import (  # noqa: F401
    CompiledRule,
    RuleSet,
    ruleset_from_yaml,
    get_sft_ruleset,
    get_preference_ruleset,
    get_annotation_ruleset,
)
