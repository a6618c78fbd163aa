"""Deterministic synthetic transcripts table (FIXTURES.md §1, exact
``input_hint`` shape): ``(conv_id string, turn_idx int, role string,
text string, tool string, ts timestamp)``.

Design for scale: generation itself is *distributed* — the driver only plans
``spark.range(n_convs)``; each executor expands its conversations into turns
inside an ``arrow_stage`` kernel, one Arrow batch at a time.  Every value
derives purely from ``(seed, conv_index, turn_idx)``, so output is identical
at any parallelism (the determinism test relies on this) and generation of a
10^12-turn table would parallelize linearly with no driver bottleneck.

Payload mix per FIXTURES.md: prose, HTML tables (header/no-header/ragged/
images-in-cells), math in all four extraction modes and both delimiters,
standalone images, blockquote/indent/newline-heavy text, literal placeholder
lookalikes, empty / NULL / non-HTML markdown — plus Zipf-skewed conversation
lengths (a few conversations are 100×+ longer than the median: the salting
test bed) and shuffled intra-conversation emission order so stable re-sorting
is actually exercised.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession, types as T

from .session import arrow_stage

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

_ROLES = ("user", "assistant", "system", "tool")
_TOOLS = ("search", "python", "browser", "calculator")
_WORDS = (
    "the quick analysis shows that partition pruning and shuffle salting "
    "keep executor memory bounded while throughput scales with cores data "
    "model schema table column stream batch window join filter project"
).split()
_BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _prose(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _html_table(rng: random.Random) -> str:
    cols = rng.randint(1, 4)
    rows = rng.randint(1, 5)
    use_header = rng.random() < 0.7
    parts = ["<table>"]
    if use_header:
        parts.append(
            "<tr>" + "".join(f"<th>h{c}</th>" for c in range(cols)) + "</tr>"
        )
    for r in range(rows):
        ragged = rng.random() < 0.15
        ncell = max(1, cols - 1) if ragged else cols
        cells = []
        for c in range(ncell):
            if rng.random() < 0.1:
                cells.append(
                    f'<td>pic<img src="m/{r}_{c}.png" alt="im{r}{c}"></td>'
                )
            else:
                cells.append(f"<td>{_prose(rng, rng.randint(1, 3))}</td>")
        parts.append("<tr>" + "".join(cells) + "</tr>")
    parts.append("</table>")
    return "".join(parts)


def _math(rng: random.Random) -> str:
    mode = rng.randrange(4)
    expr = rng.choice(
        ("E=mc^2", "a^2+b^2=c^2", "x_{i+1} = x_i - f(x_i)/f'(x_i)",
         "\\sum_{i=0}^{N} \\alpha_i x^i + \\beta_i y^i + \\gamma_i z^i = 0")
    )
    if mode == 0:
        return f'<math data-latex="{expr}"><mi>x</mi></math>'
    if mode == 1:
        return f'<span class="math inline">{expr}</span>'
    if mode == 2:
        return (
            "<math><semantics><mrow></mrow>"
            f'<annotation encoding="application/x-tex">{expr}</annotation>'
            "</semantics></math>"
        )
    return "<math><mrow></mrow></math>"  # fallback-to-HTML mode


def _image(rng: random.Random) -> str:
    n = rng.randrange(1000)
    if rng.random() < 0.5:
        return f'<img src="media/img/p{n}.png" alt="fig {n}" title="Figure {n}">'
    return f'<img src="media/img/p{n}.png" alt="fig {n}">'


def _payload(rng: random.Random) -> str | None:
    roll = rng.random()
    if roll < 0.30:
        return _prose(rng, rng.randint(5, 60))
    if roll < 0.45:
        body = _prose(rng, rng.randint(3, 15))
        return f"<h2>{_prose(rng, 2)}</h2><p>{body} <strong>key</strong> point.</p>"
    if roll < 0.58:
        return f"<p>{_prose(rng, 6)}</p>" + _html_table(rng)
    if roll < 0.68:
        return f"<p>before</p>{_math(rng)}<p>after</p>"
    if roll < 0.76:
        return f"<p>{_prose(rng, 4)}</p>{_image(rng)}"
    if roll < 0.84:
        return (
            f"<blockquote>{_prose(rng, 8)}</blockquote>\n\n\n\n"
            f"    indented {_prose(rng, 3)}\n\t tabbed"
        )
    if roll < 0.89:
        return f"# md heading\n\n- {_prose(rng, 3)}\n- {_prose(rng, 3)}"
    if roll < 0.92:
        return f"literal ___TABLE_PLACEHOLDER_0___ inside {_prose(rng, 4)}"
    if roll < 0.95:
        return ""
    if roll < 0.97:
        return None
    return _prose(rng, 400)  # long turn


def conv_length(seed: int, conv_index: int, mean_turns: int) -> int:
    """Zipf-skewed conversation length, deterministic per conversation."""
    rng = random.Random((seed << 32) ^ conv_index)
    z = rng.paretovariate(1.3)  # heavy tail
    return max(2, min(int(mean_turns * z / 3), mean_turns * 120))


def generate_conversation(seed: int, conv_index: int, mean_turns: int) -> list[tuple]:
    """All turns of one conversation, in *shuffled* emission order."""
    conv_id = f"conv_{conv_index:08d}"
    n = conv_length(seed, conv_index, mean_turns)
    rows = []
    for turn_idx in range(n):
        rng = random.Random((seed << 40) ^ (conv_index << 20) ^ turn_idx)
        role = _ROLES[turn_idx % 4]
        tool = rng.choice(_TOOLS) if role == "tool" else None
        ts = _BASE_TS + dt.timedelta(
            seconds=conv_index * 3600 + turn_idx * 17 + (turn_idx % 7)
        )
        rows.append((conv_id, turn_idx, role, _payload(rng), tool, ts))
    random.Random((seed << 16) ^ conv_index).shuffle(rows)
    return rows


def transcripts_df(
    spark: SparkSession,
    n_convs: int = 200,
    mean_turns: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Distributed deterministic transcripts table."""

    def expand(batch):
        rows = [
            row
            for conv_index in batch.column("id").to_pylist()
            for row in generate_conversation(seed, conv_index, mean_turns)
        ]
        return [[row[i] for row in rows] for i in range(len(TRANSCRIPT_SCHEMA))]

    base = spark.range(n_convs).repartition(max(spark.sparkContext.defaultParallelism, 4))
    return arrow_stage(base, expand, TRANSCRIPT_SCHEMA)
