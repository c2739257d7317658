"""Language-ID cascade: cheap char-class rules as column expressions,
with a vectorized hashed char-n-gram model UDF for the residual rows.

Recasts /root/reference/lang.go:
- Lang() dispatch (lang.go:128-167): charset map -> title-han rule ->
  utf8 body cascade. The declared-lang tag step (LangFromHtml) is not
  recast: no input of this engine carries an HTML lang attribute.
- langFromText body cascade (lang.go:274-358) with thresholds verbatim:
  BodyMinSize=64, hanRate>=0.3, ja/han>0.1, englishRate>0.618,
  latinCount>5, title path jaRate/koRate>0.2 (lang.go:237,250).
- The lingua-go model slot (lang.go:335-355, X4 of SURVEY.md §2.10)
  becomes a fastText-style hashed character n-gram scorer (`_score_text`)
  with the same two constrained candidate sets: latin {fr,de,es,pt,en}
  (lang.go:88-94) and other {ar,ru,hi,ko} (lang.go:81-86). It runs
  inside the one fused Arrow UDF (operators/fused.py).

Two-phase plan (SURVEY.md §4): the cheap rules settle most rows
JVM-side; the model runs only on rows the rules marked NEEDS_MODEL_*
(`model_inputs`) — never on the full table — and `resolve_model_lang`
folds its answer back into the cascade's struct.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .expr_utils import let_col
from .textnorm import (
    ASCII_ALPHA,
    JAVA_HAN,
    JAVA_HANGUL,
    JAVA_KANA,
    LATIN_SUPPLEMENT,
    char_count,
    clean_for_lang,
    remove_sign,
)

# provenance enum (/root/reference/lang.go:14-19)
POS_CHARSET = "charset"
POS_BODY = "body"
POS_LINGUA = "lingua"
POS_TITLE = "title"

BODY_CHUNK_SIZE = 2048  # lang.go:20
BODY_MIN_SIZE = 64  # lang.go:21

# sentinel markers: rules could not settle the row; model UDF must run
NEEDS_MODEL_LATIN = "__latin__"  # lingua latin set, lang.go:335
NEEDS_MODEL_OTHER = "__other__"  # lingua other set, lang.go:349


def body_lang_rules(text: Column) -> Column:
    """langFromText cheap branches (/root/reference/lang.go:274-345).

    Returns struct(lang, lang_pos, model_text) where lang is one of
    zh/ja/en/NEEDS_MODEL_LATIN/NEEDS_MODEL_OTHER/NULL:
    - NULL: text too short (<64 chars after cleaning) — no language.
    - NEEDS_MODEL_*: hand off to the n-gram model UDF; model_text is
      the cleaned body chunk it scores (NULL on every other row).
    All counts use rune semantics (regexp_count == len(FindAllString)).

    The cleaned chunk and its four class counts are let-bound
    (expr_utils.let_col): the cascade reads each several times, and an
    inlined Column would rerun its regex chain at every read.
    """
    return let_col(
        clean_for_lang(text, BODY_CHUNK_SIZE),
        lambda clean: let_col(
            F.struct(
                F.length(clean).alias("n"),
                char_count(clean, JAVA_HAN).alias("han"),
                char_count(clean, JAVA_KANA).alias("ja"),
                char_count(clean, ASCII_ALPHA).alias("en"),
                char_count(clean, LATIN_SUPPLEMENT).alias("latin"),
            ),
            lambda c: _body_lang(clean, c["n"], c["han"], c["ja"], c["en"], c["latin"]),
        ),
    )


def _body_lang(clean, n, han, ja, en, latin) -> Column:
    han_rate = han / n
    ja_in_han_rate = ja / F.when(han > 0, han)  # null-safe: only used when han>0
    en_rate = en / n

    lang = (
        F.when(n < BODY_MIN_SIZE, F.lit(None).cast("string"))
        .when(
            (han > 0) & (han_rate >= 0.3),
            F.when((ja > 0) & (ja_in_han_rate > 0.1), "ja").otherwise("zh"),
        )
        .when(
            (en > 0) & (en_rate > 0.618),
            F.when(latin > 5, NEEDS_MODEL_LATIN).otherwise("en"),
        )
        .otherwise(NEEDS_MODEL_OTHER)
    )
    needs = lang.isin(NEEDS_MODEL_LATIN, NEEDS_MODEL_OTHER)
    pos = F.when(lang.isNull() | needs, F.lit(None).cast("string")).otherwise(
        F.lit(POS_BODY)
    )
    return _lang_struct(lang, pos, F.when(needs, clean))


def _lang_struct(lang: Column, pos: Column, model_text: Column | None = None) -> Column:
    """The cascade's struct(lang, lang_pos, model_text); only the body
    rules hand the model a text."""
    if model_text is None:
        model_text = F.lit(None).cast("string")
    return F.struct(lang.alias("lang"), pos.alias("lang_pos"), model_text.alias("model_text"))


def title_lang_rule(title: Column, body_text: Column) -> Column:
    """LangFromTitle (/root/reference/lang.go:200-263): if the cleaned
    title holds >=2 Han chars, inspect the cleaned/truncated body — ja
    rate >0.2 -> ja, ko rate >0.2 -> ko, else zh; provenance 'title'.
    Returns struct(lang, lang_pos, model_text) with NULL lang when the
    rule doesn't fire."""
    t = F.trim(remove_sign(title))
    title_han = char_count(t, JAVA_HAN)

    body = F.trim(F.substring(F.trim(remove_sign(body_text)), 1, BODY_CHUNK_SIZE))
    bn = F.length(body)
    ja_rate = char_count(body, JAVA_KANA) / F.when(bn > 0, bn)
    ko_rate = char_count(body, JAVA_HANGUL) / F.when(bn > 0, bn)

    lang = F.when(
        (t != "") & (title_han >= 2),
        F.when(ja_rate > 0.2, "ja").when(ko_rate > 0.2, "ko").otherwise("zh"),
    )
    return _lang_struct(lang, F.when(lang.isNotNull(), F.lit(POS_TITLE)))


def lang_cascade(
    body: Column,
    charset: Column | None = None,
    title: Column | None = None,
) -> Column:
    """Full Lang() dispatch (/root/reference/lang.go:128-167) as one
    coalesce of provenance-ordered rules (cheap->expensive; Catalyst
    preserves the coalesce order by construction, SURVEY.md §4):

    1. charset in CharsetLangMap           -> (lang, 'charset')
    2. title han rule (+ja/ko body check)  -> (lang, 'title')
    3. charset is UTF*                     -> body cascade ('body' or
       NEEDS_MODEL_* sentinel for the model UDF)

    Returns struct(lang, lang_pos, model_text); lang may be a
    NEEDS_MODEL_* sentinel — resolve with `resolve_model_lang` before
    surfacing results.
    """
    from .charset import charset_lang

    null_struct = _lang_struct(F.lit(None).cast("string"), F.lit(None).cast("string"))

    steps: list[Column] = []
    if charset is not None:
        cl = charset_lang(charset)
        steps.append(
            F.when(cl.isNotNull(), _lang_struct(cl, F.lit(POS_CHARSET)))
        )
    if title is not None:
        tr = title_lang_rule(title, body)
        steps.append(F.when(tr["lang"].isNotNull(), tr))
    body_res = body_lang_rules(body)
    if charset is not None:
        gate = F.upper(F.trim(charset)).startswith("UTF")
        steps.append(F.when(gate, body_res))
        steps.append(null_struct)
    else:
        steps.append(body_res)

    return F.coalesce(*steps)


# ---------------------------------------------------------------------------
# fastText-style hashed char-n-gram model (the lingua-go slot, X4)
# ---------------------------------------------------------------------------
# Deterministic, dependency-free: per-language character n-gram profiles
# (n in 1..3) built once per executor from the embedded seed corpus;
# scoring = sum of log-probabilities over hashed n-grams, Laplace
# smoothing, argmax over the constrained candidate set. The seed corpus
# is public pangram/sample text (same role as lingua-go's bundled
# models). Swap `SEED_CORPUS` for real fastText weights in production.

SEED_CORPUS: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and then it runs through "
        "the streets of the city where people are walking with their children "
        "this is a sentence written in the english language for testing and "
        "we should have had them with which would could about because there"
    ),
    "fr": (
        "le renard brun rapide saute par dessus le chien paresseux et il court "
        "dans les rues de la ville où les gens marchent avec leurs enfants "
        "c'est une phrase écrite en langue française pour les tests très bien "
        "nous sommes était être avait même après aussi leur cette comme dans"
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund und läuft dann "
        "durch die straßen der stadt wo die menschen mit ihren kindern gehen "
        "dies ist ein satz in deutscher sprache geschrieben für die prüfung "
        "wir haben hatte werden würde können müssen nicht auch noch schon sich"
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso y luego corre "
        "por las calles de la ciudad donde la gente camina con sus hijos "
        "esta es una oración escrita en idioma español para las pruebas "
        "nosotros hemos había estaba siendo también porque cuando según años"
    ),
    "pt": (
        "a rápida raposa marrom pula sobre o cão preguiçoso e depois corre "
        "pelas ruas da cidade onde as pessoas caminham com seus filhos "
        "esta é uma frase escrita em língua portuguesa para os testes não "
        "nós temos tinha estava sendo também porque quando segundo anos ção"
    ),
    "ar": (
        "الثعلب البني السريع يقفز فوق الكلب الكسول ثم يركض في شوارع المدينة "
        "حيث يمشي الناس مع أطفالهم هذه جملة مكتوبة باللغة العربية للاختبار "
        "نحن كان كانت يكون سوف هذا هذه ذلك التي الذي عن مع من الى على في"
    ),
    "ru": (
        "быстрая коричневая лиса прыгает через ленивую собаку и бежит по "
        "улицам города где люди гуляют со своими детьми это предложение "
        "написано на русском языке для проверки мы были будет может очень "
        "который которая чтобы если когда после тоже еще уже себя него"
    ),
    "hi": (
        "तेज भूरी लोमड़ी आलसी कुत्ते के ऊपर कूदती है और फिर शहर की सड़कों "
        "पर दौड़ती है जहां लोग अपने बच्चों के साथ चल रहे हैं यह हिंदी भाषा "
        "में लिखा गया एक वाक्य है परीक्षण के लिए हम थे होगा सकता बहुत जो कि"
    ),
    "ko": (
        "빠른 갈색 여우가 게으른 개를 뛰어넘고 나서 사람들이 아이들과 함께 "
        "걷고 있는 도시의 거리를 달립니다 이것은 테스트를 위해 한국어로 "
        "작성된 문장입니다 우리는 있었다 것이다 수 있는 그리고 하지만 또한"
    ),
    # zh/ja are NOT in either lingua candidate set (the reference's rule
    # cascade settles them, lang.go:296-320) but their seed text keeps
    # the shared perplexity LM calibrated for CJK transcripts.
    "zh": (
        "敏捷的棕色狐狸跳过了懒惰的狗然后沿着城市的街道奔跑 人们带着孩子们"
        "在公园里散步 这是一段用中文写成的测试句子 我们的 他们的 可以 因为"
        "所以 但是 如果 已经 正在 不会 没有 一个 这个 那个 什么 怎么 为什么"
    ),
    "ja": (
        "素早い茶色の狐は怠け者の犬を飛び越えてから街の通りを走ります 人々は"
        "子供たちと一緒に公園を歩いています これはテストのために日本語で書かれた"
        "文章です私たちの彼らのできるのでしかしもしすでにしていません"
    ),
}

LATIN_SET = ("fr", "de", "es", "pt", "en")  # lang.go:88-94
OTHER_SET = ("ar", "ru", "hi", "ko")  # lang.go:81-86

_N_BUCKETS = 1 << 16  # hashed n-gram feature space (fastText-style)
_models: dict[tuple[str, ...], list] = {}

# polynomial rolling hash over codepoints, fully numpy-vectorizable
# (the hash only has to be deterministic and well-mixed; training and
# scoring share it, and the pure-Python oracle imports THIS function so
# parity holds by construction)
_HP = 1_000_003
_HMIX = 0x9E3779B97F4A7C15


def _ngram_buckets(text: str):
    """Bucket ids of all 1/2/3-grams of `text` as one int64 array —
    vectorized (no per-char Python loop)."""
    import numpy as np

    c = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if c.size == 0:
        return np.empty(0, dtype=np.int64)
    P = np.uint64(_HP)
    M = np.uint64(_HMIX)
    out = []
    with np.errstate(over="ignore"):
        h1 = c * M
        out.append(h1)
        if c.size >= 2:
            out.append((c[:-1] * P + c[1:]) * M)
        if c.size >= 3:
            out.append((c[:-2] * P * P + c[1:-1] * P + c[2:]) * M)
        mixed = np.concatenate(out)
        mixed ^= mixed >> np.uint64(29)
        mixed *= M
    return (mixed & np.uint64(_N_BUCKETS - 1)).astype(np.int64)


def _build_model(langs: tuple[str, ...]):
    """log P(bucket|lang) arrays with Laplace smoothing, built from the
    seed corpus. Cached per (executor, candidate-set)."""
    import numpy as np

    mats = []
    for lang in langs:
        counts = np.ones(_N_BUCKETS, dtype=np.float64)  # Laplace
        idx = _ngram_buckets(SEED_CORPUS[lang].lower())
        np.add.at(counts, idx, 1.0)
        mats.append(np.log(counts / counts.sum()))
    return [langs, np.stack(mats)]


def _score_text(text: str, langs: tuple[str, ...]) -> str | None:
    import numpy as np

    key = langs
    if key not in _models:
        _models[key] = _build_model(langs)
    lang_names, mats = _models[key]
    t = text.lower()[:BODY_CHUNK_SIZE]
    if not t:
        return None
    ia = _ngram_buckets(t)
    if ia.size == 0:
        return None
    scores = mats[:, ia].sum(axis=1)
    return lang_names[int(np.argmax(scores))]


def _needs_model(lang_res: Column) -> Column:
    return lang_res["lang"].isin(NEEDS_MODEL_LATIN, NEEDS_MODEL_OTHER)


def model_inputs(lang_res: Column) -> tuple[Column, Column]:
    """(model text, marker) for the fused UDF (operators/fused.py): the
    cleaned body chunk the body rules bound and the NEEDS_MODEL_*
    sentinel that selects the candidate set, both NULL on rows the rules
    settled, so the model runs on the residual only."""
    return lang_res["model_text"], F.when(_needs_model(lang_res), lang_res["lang"])


def resolve_model_lang(lang_res: Column, model_lang: Column) -> Column:
    """Two-phase resolution (SURVEY.md §4 'lang cascade early-exit'):
    replace a NEEDS_MODEL_* sentinel in `lang_res` with the model's
    answer (the fused UDF's `model_lang`), provenance 'lingua'; settled
    rows keep their lang and lang_pos. The result is struct(lang,
    lang_pos): the model text is spent."""
    return F.when(
        _needs_model(lang_res),
        F.struct(
            model_lang.alias("lang"),
            F.when(model_lang.isNotNull(), F.lit(POS_LINGUA)).alias("lang_pos"),
        ),
    ).otherwise(F.struct(lang_res["lang"].alias("lang"), lang_res["lang_pos"].alias("lang_pos")))
