"""Seeded transcript generator for the `build_kernel` workload.

Emits the `(conv_id, turn_idx, role, text, tool, ts)` table of
FIXTURES.md §1 from a workload seed, as Spark SQL over `range`, so the
same seed gives byte-identical rows on every run:

- `turn_idx` is dense and unique per conversation (0..n-1);
- exactly 1% of conversations are hot, with 500 turns (every 100th);
  the rest have 6-14 turns (mean 10);
- each turn mentions 1-3 entities `[[Entity{k}]]` whose ids are the
  product of two uniform residues (skewed toward small k), and about
  20% of mentions use the lowercase surface `[[entity{k}]]`;
- every third turn is a tool turn carrying `tool-{k}`.

All randomness is `xxhash64(seed, conversation, turn, slot)`, so the
seed changes turn counts, mentions and tools but not their
distribution. The hot conversations are the same on every seed, so
input size and partition skew barely move with it.

`expected_triples` derives the triple count the pipeline must emit
from the generator's own structured columns (mention ids, tool flag),
not from the text the pipeline parses.
"""
from __future__ import annotations

HOT_EVERY = 100        # one conversation in HOT_EVERY is hot
HOT_TURNS = 500
N_ENTITY_RESIDUE = 50  # entity id = floor(u1 * u2 / 50), u1, u2 in [0, 50)


def _h(seed: int, *parts: str) -> str:
    return f"xxhash64({seed}L, {', '.join(parts)})"


def _u(seed: int, mod: int, *parts: str) -> str:
    return f"pmod({_h(seed, *parts)}, {mod})"


def _structured_sql(seed: int, n_conv: int) -> str:
    """One row per turn, with the structured columns that drive the
    text: mention count `m`, entity ids `e0..e2`, lowercase flags
    `l0..l2`, and the tool id (null on non-tool turns)."""
    ents = ",\n  ".join(
        f"cast(floor({_u(seed, N_ENTITY_RESIDUE, 'i', 't', f'{10 + j}')} * "
        f"{_u(seed, N_ENTITY_RESIDUE, 'i', 't', f'{20 + j}')} / "
        f"{N_ENTITY_RESIDUE}) as int) AS e{j},\n  "
        f"{_u(seed, 5, 'i', 't', f'{30 + j}')} = 0 AS l{j}"
        for j in range(3))
    return f"""
WITH conv AS (
  SELECT id AS i,
         cast(CASE WHEN id % {HOT_EVERY} = 0 THEN {HOT_TURNS}
                   ELSE 6 + {_u(seed, 9, 'id', '2')} END AS int) AS n_turns
  FROM range({n_conv})
),
turns AS (
  SELECT i, explode(sequence(0, n_turns - 1)) AS t FROM conv
)
SELECT i, t,
  cast(1 + {_u(seed, 3, 'i', 't', '3')} AS int) AS m,
  {ents},
  CASE WHEN t % 3 = 2
       THEN cast({_u(seed, 7, 'i', 't', '4')} AS int) END AS tool_k
FROM turns
"""


def _surface(j: int) -> str:
    return (f"'[[' || CASE WHEN l{j} THEN 'entity' ELSE 'Entity' END "
            f"|| cast(e{j} AS string) || ']]'")


TRANSCRIPT_COLUMNS = {
    "conv_id": "'conv-' || lpad(cast(i AS string), 6, '0')",
    "turn_idx": "cast(t AS int)",
    "role": "CASE t % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' "
            "ELSE 'tool' END",
    "text": "'Turn ' || cast(t AS string) || ' of conversation ' "
            "|| lpad(cast(i AS string), 6, '0') || ': discussing ' "
            f"|| {_surface(0)} "
            f"|| CASE WHEN m > 1 THEN ' and ' || {_surface(1)} ELSE '' END "
            f"|| CASE WHEN m > 2 THEN ' plus ' || {_surface(2)} ELSE '' END "
            "|| CASE WHEN tool_k IS NOT NULL "
            "THEN ' via tool-' || cast(tool_k AS string) ELSE '' END || '.'",
    "tool": "CASE WHEN tool_k IS NOT NULL "
            "THEN 'tool-' || cast(tool_k AS string) END",
    "ts": "timestamp'2026-01-01 00:00:00' "
          "+ make_interval(0, 0, 0, 0, 0, 0, i * 3600 + t)",
}

# Per turn: rdf:type, role, text, turnIndex, ts and hasTurn; usesTool
# on tool turns; rdf:type Conversation on turn 0; one mentions triple
# per distinct entity id among the turn's m mentions (case variants
# link to one entity).
TRIPLES_PER_TURN = (
    "6 + CASE WHEN tool_k IS NOT NULL THEN 1 ELSE 0 END "
    "+ CASE WHEN t = 0 THEN 1 ELSE 0 END "
    "+ size(array_distinct(slice(array(e0, e1, e2), 1, m)))")


def write_parquet(spark, seed: int, n_conv: int, path: str) -> None:
    """Write the seeded table to `path`."""
    turns = spark.sql(_structured_sql(seed, n_conv))
    (turns.selectExpr(*(f"{e} AS {c}" for c, e in TRANSCRIPT_COLUMNS.items()))
     .write.mode("overwrite").parquet(path))


def expected_triples(spark, seed: int, n_conv: int) -> int:
    """The triple count the pipeline must emit for the seeded table."""
    row = spark.sql(_structured_sql(seed, n_conv)).selectExpr(
        f"cast(sum({TRIPLES_PER_TURN}) AS bigint) AS n").collect()[0]
    return int(row["n"])
