#!/bin/sh
# Install the repo's git hooks: a pre-commit gate on the Spark-free
# checks (the registry front guard, the round-quotient scan, the
# parquet-footer schema mapping, the scripts' package names, the
# keyed-fold state and expiry protocol and the TableStore log's batch
# window rule) — seconds, no Spark.
# Usage: sh scripts/install_hooks.sh
cd "$(git rev-parse --show-toplevel)" || exit 1
cat > .git/hooks/pre-commit <<'HOOK'
#!/bin/sh
cd "$(git rev-parse --show-toplevel)" || exit 1
python -m pytest -q --no-header -x \
  tests/test_queries.py::test_registry_front_loads_unchecked_queries \
  tests/test_round_quotients.py \
  tests/test_tables.py::test_footer_schema_mapping_and_cache_key \
  tests/test_scripts.py \
  tests/test_properties.py::test_keyed_fold_owns_the_state_protocol \
  tests/test_properties.py::test_keyed_fold_expiry_protocol \
  tests/test_dfs.py::test_window_batches_rule || {
  echo "pre-commit: Spark-free checks failed — fix before committing" >&2
  exit 1
}
HOOK
chmod +x .git/hooks/pre-commit
echo "pre-commit hook installed"
