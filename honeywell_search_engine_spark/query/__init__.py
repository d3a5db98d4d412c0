from honeywell_search_engine_spark.query.suggest import (  # noqa: F401
    build_spell_table,
    correct_terms,
    did_you_mean,
    suggest_terms,
)
