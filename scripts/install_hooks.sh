#!/bin/sh
# Install the repo's git hooks: a pre-commit gate on the Spark-free
# registry checks (the front guard and the round-quotient scan) —
# seconds, no Spark.
# Usage: sh scripts/install_hooks.sh
cd "$(git rev-parse --show-toplevel)" || exit 1
cat > .git/hooks/pre-commit <<'HOOK'
#!/bin/sh
cd "$(git rev-parse --show-toplevel)" || exit 1
python -m pytest -q --no-header -x \
  tests/test_queries.py::test_registry_front_loads_unchecked_queries \
  tests/test_round_quotients.py || {
  echo "pre-commit: registry guard failed — fix before committing" >&2
  exit 1
}
HOOK
chmod +x .git/hooks/pre-commit
echo "pre-commit hook installed"
