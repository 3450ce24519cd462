"""Seeded input generators for the four benchmark workloads.

Every generator is pure Python over ``random.Random(seed)``: the same
seed gives byte-identical tables, a different seed different ones, and
the library under test only ever sees the generated files. Sizes are
fixed per workload (independent of the seed), so runs with different
seeds do the same amount of work and their timings are comparable.

Each generator returns ``(tables, props)``: ``props`` records the input
sizes and the property shares the workload depends on (long-conversation
turn share, malformed-surface share, bridging-surface share, hot-template
and boilerplate share).
"""

from __future__ import annotations

import datetime as _dt
import random
import statistics

import pyarrow as pa

ENTITY_TYPES = ["精神慰撫金額", "醫療費用", "薪資收入"]

_FILLER = [
    "原告主張被告應負損害賠償責任",
    "被告抗辯其並無過失",
    "經查本件事故發生於上開時地",
    "兩造對於事實均不爭執",
    "依民法第184條第1項前段規定",
    "審酌原告所受傷勢非輕",
    "查 閱卷內病歷資料",
    "次按\\n慰撫金之賠償",
    "證人於審理中證述明確",
    "爰審酌兩造身分地位經濟能力",
]

# surfaces normalize_money maps to an integer
_MONEY_OK = ["98,532元", "1,680元", "八萬元", "三千500元", "一萬五千元",
             "六百二十五元", "2,954元", "五萬三千元", "10000元", "七百元"]
_CJK_DIGITS = "一二三四五六七八九"
_ROLES = ["user", "assistant", "tool"]

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
EDGE_SCHEMA = pa.schema([
    ("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()),
    ("prob", pa.float64()), ("doc_id", pa.string()), ("start", pa.int32()),
    ("end", pa.int32()),
])
EDGE_DDL = ("subj string, pred string, obj string, prob double, "
            "doc_id string, start int, end int")
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("text", pa.string()), ("lang", pa.string()),
])


def _malformed_family(rng: random.Random) -> list[str]:
    """Surfaces the extractor's money pattern matches but normalize_money
    rejects (a unit directly after a unit, '千千...'): a base plus
    one-digit variants, so some pairs clear the linker's 0.6 Jaccard."""
    digits = "".join(rng.choice(_CJK_DIGITS) for _ in range(7))
    fam = [f"千千{digits}元"]
    for _ in range(2):
        i = rng.randrange(len(digits))
        v = digits[:i] + rng.choice(_CJK_DIGITS) + digits[i + 1:]
        fam.append(f"千千{v}元")
    return fam


def transcripts(seed: int, n_convs: int, median_turns: int = 12,
                long_every: int = 40, long_factor: int = 20,
                mention_share: float = 1 / 3,
                malformed_share: float = 0.15):
    """Transcripts with a long-conversation tail and malformed money.

    Conversation lengths are ``median_turns`` +- 4, except one in
    ``long_every`` conversations, which get ``long_factor`` to
    ``long_factor + 5`` times the median. The ids and lengths do not
    depend on the seed, so neither does the amount of work nor how the
    long conversations fall into hash buckets and partitions; the seed
    draws the text. ``mention_share`` of turns carry '<entity
    type><money surface>'; ``malformed_share`` of those surfaces are
    non-normalizable (drawn Zipf-skewed from a pool of linkable
    families)."""
    layout = random.Random(f"transcripts-layout#{n_convs}")
    rng = random.Random(f"transcripts#{seed}")
    families = [_malformed_family(rng) for _ in range(40)]
    fam_weights = [1.0 / (i + 1) for i in range(len(families))]
    epoch = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)
    cols = {k: [] for k in TRANSCRIPT_SCHEMA.names}
    long_convs = layout.sample(range(n_convs), n_convs // long_every)
    long_len = {c: median_turns * (long_factor + i % 6) for i, c in enumerate(long_convs)}
    lengths = [long_len.get(c) or median_turns + layout.randint(-4, 4)
               for c in range(n_convs)]
    n_mentions = n_malformed = 0
    for c, n in enumerate(lengths):
        conv_id = f"conv-{c:07d}"
        for t in range(n):
            mention = ""
            if rng.random() < mention_share:
                n_mentions += 1
                if rng.random() < malformed_share:
                    n_malformed += 1
                    fam = rng.choices(families, fam_weights)[0]
                    surface = rng.choice(fam)
                else:
                    surface = rng.choice(_MONEY_OK)
                mention = rng.choice(ENTITY_TYPES) + surface
            role = rng.choice(_ROLES)
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(
                rng.choice(_FILLER) + "\n" + mention + " "
                + rng.choice(_FILLER) + "　"
            )
            cols["tool"].append(f"tool_{rng.randrange(5)}" if role == "tool" else None)
            cols["ts"].append(epoch + _dt.timedelta(seconds=c * 3600 + t * 7))
    med = statistics.median(lengths)
    n_turns = sum(lengths)
    props = {
        "convs": n_convs,
        "turns": n_turns,
        "median_conv_turns": med,
        "long_conv_turn_share": round(
            sum(n for n in lengths if n >= long_factor * med) / n_turns, 4),
        "mentions": n_mentions,
        "malformed_surface_share": round(n_malformed / max(n_mentions, 1), 4),
    }
    return pa.Table.from_pydict(cols, schema=TRANSCRIPT_SCHEMA), props


def _raw_word(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("甲乙丙丁戊己庚辛壬癸子丑寅卯辰巳午未申酉戌亥")
                   for _ in range(n))


def edge_batches(seed: int, n_batches: int, edges_per_batch: int,
                 raw_share: float = 0.3, bridge_every: int = 3):
    """Extraction-edge micro-batches for the streaming KG.

    ``raw_share`` of edges carry non-normalizable surfaces: a long tail
    of one-off words plus linkable families. Every ``bridge_every``-th
    batch from batch 2 on adds bridge surfaces: a family's halves A and
    B (Jaccard 0.27, below the link bar) arrive in earlier batches and
    the bridge C (Jaccard >= 0.6 to each) arrives later, so the linker
    merges two existing entities retroactively."""
    rng = random.Random(f"edges#{seed}")
    subjects = [f"case-{i:04d}" for i in range(200)]
    bridges = []  # (A, B, C) with A, B already emitted
    batches = []
    n_edges = n_raw = n_bridge = 0
    for b in range(n_batches):
        rows = {k: [] for k in EDGE_SCHEMA.names}

        def add(obj, pred=None):
            rows["subj"].append(rng.choice(subjects))
            rows["pred"].append(pred or rng.choice(ENTITY_TYPES))
            rows["obj"].append(obj)
            rows["prob"].append(round(rng.uniform(0.3, 0.99), 6))
            rows["doc_id"].append(f"d{b:03d}-{len(rows['obj']):05d}")
            rows["start"].append(0)
            rows["end"].append(len(obj))

        if b >= 2 and b % bridge_every == 2:
            for a, bb, c, pred in bridges[:4]:
                add(c, pred)
                n_bridge += 1
            del bridges[:4]
        for _ in range(edges_per_batch - len(rows["obj"])):
            if rng.random() < raw_share:
                n_raw += 1
                if rng.random() < 0.2:
                    s = _raw_word(rng, 12)
                    pred = rng.choice(ENTITY_TYPES)
                    add(s[:8], pred)
                    add(s[4:], pred)
                    n_raw += 1
                    bridges.append((s[:8], s[4:], s, pred))
                else:
                    add(_raw_word(rng, rng.randint(4, 9)))
            else:
                add(rng.choice(_MONEY_OK))
        n_edges += len(rows["obj"])
        batches.append(pa.Table.from_pydict(rows, schema=EDGE_SCHEMA))
    props = {
        "batches": n_batches,
        "edges": n_edges,
        "raw_surface_share": round(n_raw / n_edges, 4),
        "bridging_surface_share": round(n_bridge / n_edges, 4),
    }
    return batches, props


_SYLLABLES = ("ka ri mo te su na lo vi pe da ne ro ma ki tu se ba go hi ze "
              "lu fa no wi ya").split()
# 3000 pseudo-words: random documents share few word 3-grams, so only the
# planted templates are near-duplicates
_WORDS = sorted({"".join(random.Random(i).choices(_SYLLABLES, k=3)) for i in range(3200)})[:3000]
_STOP = ["the", "a", "of", "and", "to", "in", "is"]
_BOILERPLATE = [
    "copyright reserved all rights of the publisher apply",
    "subscribe to the newsletter for more stories like this",
    "share this page with a friend and follow us",
]


def _sentence(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(_WORDS)
            for _ in range(n)]


def corpus(seed: int, n_docs: int, n_templates: int = 24,
           hot_share: float = 0.35, boilerplate_share: float = 0.4,
           pii_share: float = 0.1, contaminated_share: float = 0.03,
           n_eval: int = 20):
    """Curation corpus with Zipf-hot near-duplicate templates.

    ``hot_share`` of docs are one- or two-word edits (or exact copies) of
    ``n_templates`` templates picked with Zipf weights 1/rank, so the
    hottest template's LSH buckets dwarf the rest. ``boilerplate_share``
    of docs end with a shared boilerplate line, ``pii_share`` carry an
    email / phone / ID token, and ``contaminated_share`` embed a
    12-word passage of an eval document. Which docs are which, their
    lengths and where edits, passages and tokens go do not depend on the
    seed, so neither do the sizes of the near-duplicate groups; the seed
    draws the words and tokens. Returns ``({"docs": ..., "eval": ...},
    props)``; ``props["pii"]`` lists every PII token planted, for the
    output check."""
    layout = random.Random(f"corpus-layout#{n_docs}")
    rng = random.Random(f"corpus#{seed}")
    templates = [_sentence(rng, 40) for _ in range(n_templates)]
    weights = [1.0 / (i + 1) for i in range(n_templates)]
    eval_docs = [" ".join(_sentence(rng, 30)) for _ in range(n_eval)]
    cols = {k: [] for k in DOC_SCHEMA.names}
    pii = []
    n_hot = n_boiler = n_contam = 0
    for d in range(n_docs):
        hot = layout.random() < hot_share
        if hot:
            n_hot += 1
            words = list(layout.choices(templates, weights)[0])
            for _ in range(layout.choice([0, 1, 1, 2])):
                words[layout.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = _sentence(rng, layout.randint(30, 60))
        lines = [" ".join(words[i:i + 12]) for i in range(0, len(words), 12)]
        if layout.random() < contaminated_share:
            n_contam += 1
            ev = layout.choice(eval_docs).split(" ")
            i = layout.randrange(len(ev) - 12)
            lines.insert(layout.randrange(len(lines) + 1), " ".join(ev[i:i + 12]))
        if not hot and layout.random() < pii_share:
            kind = layout.randrange(3)
            if kind == 0:
                tok = f"user{d}x{rng.randrange(10**6)}@mail.example.com"
            elif kind == 1:
                tok = f"09{rng.randrange(10**8):08d}"
            else:
                tok = f"{rng.choice('ABCDEFGHJK')}{rng.randrange(10**9):09d}"
            pii.append(tok)
            at = layout.randrange(len(lines))
            lines[at] = lines[at] + " " + tok
        if layout.random() < boilerplate_share:
            n_boiler += 1
            lines.append(layout.choice(_BOILERPLATE))
        cols["doc_id"].append(f"doc-{d:07d}")
        cols["text"].append("\n".join(lines))
        cols["lang"].append("en" if layout.random() < 0.7 else "zh")
    props = {
        "docs": n_docs,
        "eval_docs": n_eval,
        "hot_template_share": round(n_hot / n_docs, 4),
        "boilerplate_share": round(n_boiler / n_docs, 4),
        "pii_share": round(len(pii) / n_docs, 4),
        "contaminated_share": round(n_contam / n_docs, 4),
        "pii": pii,
    }
    tables = {
        "docs": pa.Table.from_pydict(cols, schema=DOC_SCHEMA),
        "eval": pa.Table.from_pydict(
            {"doc_id": [f"eval-{i}" for i in range(n_eval)], "text": eval_docs,
             "lang": ["en"] * n_eval},
            schema=DOC_SCHEMA,
        ),
    }
    return tables, props
