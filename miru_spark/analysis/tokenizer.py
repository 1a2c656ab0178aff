"""Deterministic text extraction + tokenization.

This is the engine's analyzer layer. The reference engine delegates to
Lucene analyzers per locale (reference: miru-stream-plugins
``.../fulltext/TermAnalyzers.java:45-138``, ``TermTokenizer.java:34-54``);
we use a single pure-Python, regex-word-break + lowercase + optional
stopword analyzer so that tokenization is a **pure function of the input
bytes** — the byte-identical-per-url invariant required by the build
pipeline. All Spark entry points are Arrow-vectorized pandas UDFs
(no per-row Python).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# A compact English stopword set (reference keeps per-locale stopword lists,
# e.g. .../fulltext/EnStopwords.java). Frozen: changing it changes the index.
STOPWORDS_EN = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

_TOKEN_RE = re.compile(r"[a-z0-9]+")
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")

# ---------------------------------------------------------------------
# Locale-aware analyzer registry — the reference keeps per-locale Lucene
# analyzers and resolves them by exact code, then progressively stripped
# "_"-suffixes, then a default (``miru-plugin/.../query/
# TermAnalyzers.java:119-138``). Here an analyzer = (token regex,
# stopword set). The engine DEFAULT stays the frozen ASCII "en" analyzer:
# it is the cross-engine byte-identity surface (Python re / JVM regexp /
# DuckDB RE2 all agree on [a-z0-9]+), and changing it changes every
# index. Non-"en" locales use a Unicode word tokenizer (any-script
# letters+digits, lowercased) plus their stopword list.
# ---------------------------------------------------------------------

def _mark_class() -> str:
    """Combining marks (Mn/Mc/Me), connector punctuation minus ``_``,
    and the ZWNJ/ZWJ join controls, as a BMP regex char class.

    Java's ``(?U)\\w`` counts all of these as word characters
    (UNICODE_CHARACTER_CLASS: Alpha|Mn|Me|Mc|Digit|Pc|Join_Control);
    Python's ``\\w`` counts none of them — so without this union the
    Python tokenizer and its JVM ``tokens_col`` twin silently disagree
    on every mark-bearing script (Thai vowels/tones, Devanagari matras,
    Arabic/Hebrew points, Persian ZWNJ). Built once at import from the
    interpreter's Unicode DB; the parity tests pin the claimed
    alphabets, which are stable across Unicode versions."""
    import unicodedata

    cps = [
        cp
        for cp in range(0x10000)
        if (lambda c: c in ("Mn", "Mc", "Me") or (c == "Pc" and cp != 0x5F))(
            unicodedata.category(chr(cp))
        )
    ]
    cps.extend((0x200C, 0x200D))
    cps.sort()
    parts: list[str] = []
    i = 0
    while i < len(cps):
        j = i
        while j + 1 < len(cps) and cps[j + 1] == cps[j] + 1:
            j += 1
        parts.append(
            f"\\u{cps[i]:04x}" if j == i else f"\\u{cps[i]:04x}-\\u{cps[j]:04x}"
        )
        i = j + 1
    return "".join(parts)


_MARK_CLASS = _mark_class()
# a "word run" = maximal run of (letter|digit|mark|join-control), the
# exact complement of the JVM twin's (?U)[\W_]+ separator
_UNICODE_TOKEN_RE = re.compile(rf"(?:[^\W_]|[{_MARK_CLASS}])+", re.UNICODE)

# Analyzer implementation generation, persisted into every index's
# schema.json: ANY change to the frozen token regexes, segmentation
# rules, or stopword-application order re-tokenizes text, so an append
# to an index built under a different generation would silently mix
# vocabularies (query-side tokens stop matching stored terms) — the
# schema guard rejects it like any other non-additive change.
# History: 1 = round-2 analyzers (plain [^\W_]+ word runs);
# 2 = mark-class union in _UNICODE_TOKEN_RE (combining marks join their
#     base word run) + Thai stopwords filtered at word level before
#     bigram expansion.
# 3 = stemming analyzer tier: NEW locale codes en_stem/de_stem/fr_stem/
#     es_stem (light suffix stemmers, analysis/stem.py). Additive: every
#     locale valid under generation 2 tokenizes identically under 3, so
#     appends to generation-2 indexes remain safe (see
#     ANALYZER_COMPATIBLE_PREDECESSORS and the schema guard).
# 4 = stemming tier completed to the reference's FULL stemming-locale
#     map (TermAnalyzers.java:52-84): it/pt/pt_br/nl/ru/sv/da/nb/nn/fi/
#     cs/ro/ca/gl/id/hi/bg/gr/tr/lv/eu/hy/ar/ku/en_ie ``*_stem`` codes.
#     Additive again: no existing code's stream changed.
ANALYZER_VERSION = 4

# Generations whose ENTIRE locale surface tokenizes identically under
# the current code (only new codes were added since): the schema guard
# accepts an append to an index pinned at one of these.
ANALYZER_COMPATIBLE_PREDECESSORS = frozenset({2, 3})

STOPWORDS_DE = frozenset(
    """aber als am an auch auf aus bei bin bis da das dass dem den der des
    die dir du ein eine einem einen einer es für hat hatte ich ihr im in
    ist ja kann mein mich mit nach nicht noch nur oder sein sich sie sind
    so über um und uns von war was wenn wie wir zu zum zur""".split()
)

STOPWORDS_FR = frozenset(
    """au aux avec ce ces dans de des du elle en et eux il je la le les
    leur lui ma mais me même mes moi mon ne nos notre nous on ou par pas
    pour qu que qui sa se ses son sur ta te tes toi ton tu un une vos
    votre vous""".split()
)

STOPWORDS_ES = frozenset(
    """a al algo antes como con contra cual cuando de del desde donde
    durante e el ella ellas ellos en entre era es esa ese eso esta este
    esto fue ha han hasta la las le les lo los me mi mis muy más ni no
    nos o os otra otro para pero por porque que quien se ser si sin sobre
    son su sus también te tu tus un una uno unos y ya yo""".split()
)

STOPWORDS_IT = frozenset(
    """a ad agli ai al alla alle allo anche che chi ci come con contro da
    dal dalla de degli dei del della delle dello di dove e ed era fra gli
    ha hanno il in io la le lei lo loro lui ma mi ne nei nel nella no noi
    non o per perché più quella quelle quello questa queste questo se sei
    si sono su sua sue sui sul sulla suo tra tu un una uno vi voi è""".split()
)

STOPWORDS_PT = frozenset(
    """a ao aos as até com como da das de dela dele deles dem depois do
    dos e ela elas ele eles em entre era essa esse esta este eu foi for
    há isso isto já lhe lhes mais mas me mesmo meu minha muito na nas não
    nem no nos nossa nosso num numa o os ou para pela pelo por qual quando
    que quem se sem ser seu sua são só também te tem teu tu tua um uma
    você vocês à às""".split()
)

STOPWORDS_NL = frozenset(
    """aan al alles als altijd andere ben bij daar dan dat de der deze die
    dit doch doen door dus een en er ge geen geweest haar had heb hebben
    heeft hem het hier hij hoe hun iemand iets ik in is ja je kan kon kunnen
    maar me meer men met mij mijn moet na naar niet niets nog nu of om omdat
    onder ons ook op over reeds te tegen toch toen tot u uit uw van veel
    voor want waren was wat werd wezen wie wil worden wordt zal ze zelf zich
    zij zijn zo zonder zou""".split()
)

STOPWORDS_RU = frozenset(
    """а без более бы был была были было быть в вам вас весь во вот все
    всего всех вы где да даже для до его ее ей ею если есть еще же за здесь
    и из или им их к как ко когда кто ли либо мне может мы на надо наш не
    него нее нет ни них но ну о об однако он она они оно от очень по под
    при с со так также такой там те тем то того тоже той только том ты у
    уже хотя чего чей чем что чтобы чье чья эта эти это я""".split()
)


# Compact stopword sets for the rest of the reference's 31-locale
# registry (TermAnalyzers.java:52-84). The reference ships Lucene's
# default per-language lists; these are engine-owned compact sets of the
# highest-frequency function words — FROZEN like STOPWORDS_EN (changing
# one changes every index built with use_stopwords under that locale).
STOPWORDS_AR = frozenset(
    """أن إلى إن او أو التي الذي على عن في قد كان كانت كل لا لم لن له
    ما مع من هذا هذه هو هي و يكون""".split()
)
STOPWORDS_BG = frozenset(
    """а без беше би бил бяха в вие да до е за и из или им ли между на
    не него нея ние но от по при са се си след съм та те то това той
    тя че ще я""".split()
)
STOPWORDS_CA = frozenset(
    """a al als amb com de del dels el els en es i la les li mi més no
    o per que què se ses seu seus si sobre sí tot un una uns vos""".split()
)
STOPWORDS_CS = frozenset(
    """a aby ale ani až bez bude by byl byla bylo být co či do i jak
    jako je jeho její jen ještě k kde která které který má mezi na nad
    není nebo o od po pod pro před přes při s se si tak také tato ten
    to tohle toto u v ve z za že""".split()
)
STOPWORDS_DA = frozenset(
    """af alle at blev da de dem den denne der det dette dig din dog du
    efter en end er et for fra ham han hans har havde have hun hvad
    hvis hvor i ikke ind jeg jer kan kunne man mange med meget men mig
    min mod ned noget nogle nu når og også om op os over på sig sin
    skal skulle som sådan thi til ud under var vi vil ville vor være""".split()
)
STOPWORDS_EU = frozenset(
    """al anitz arabera asko baina bat batean batek bati batzuei batzuek
    be beste bere da dago dira du dute edo egin ere eta eurak ez gainera
    gu hainbeste hau honek hori hura izan ni noiz nola non nondik nongo
    nor zein zen zer zuek""".split()
)
STOPWORDS_FA = frozenset(
    """از است این اما او با باشد به بود برای تا در را كه که می ما من نه
    نیز هر هم همه و وی یا یک""".split()
)
STOPWORDS_FI = frozenset(
    """ei että he hän ja jo joka jos kanssa kuin kun me minä mitä mukaan
    mutta myös ne niin nyt ole oli olla on ovat se sekä sen siinä sitä
    tai tämä te vaan vain voi""".split()
)
STOPWORDS_GL = frozenset(
    """a ao aos as coa con da das de do dos e el ela en era foi lle máis
    na nas no non nos o os ou para pero polo por que se sen seu sobre
    súa tamén un unha uns xa""".split()
)
STOPWORDS_GR = frozenset(
    """αλλά από αυτά αυτές αυτή αυτό αυτόν αυτός για δε δεν είμαι είναι
    εγώ εσύ έχει θα και κατά με μετά μη μου να ο οι όπως ότι ου πολύ
    που προς πως σε στη στην στο στον τα την της τι το τον του των ως""".split()
)
STOPWORDS_HI = frozenset(
    """अपने और एक इस इसके का की के को जो तक तो था थी थे नहीं ने पर भी मैं
    यह वह से हम हो ही है हैं""".split()
)
STOPWORDS_HY = frozenset(
    """այդ այլ այն այս դու ես և էր ըստ թե ին իր կամ համար հետ մեջ մի նա
    նաև որ որը վրա ու""".split()
)
STOPWORDS_ID = frozenset(
    """ada adalah akan atau bagi dalam dan dari dengan di dia harus ia
    ini itu juga kami kamu karena ke kita lain mereka oleh pada para
    saya sebagai sudah tak telah tidak untuk yang""".split()
)
STOPWORDS_KU = frozenset(
    """بە بۆ دە ئەو ئەم لە لەگەڵ و کە هەر هەموو ئەوە دەبێت بوو نە یان""".split()
)
STOPWORDS_LV = frozenset(
    """ar bet bija būs būt es ir jau ja kā kad kas ko kur mēs ne nav no
    pēc par pie šis šī tā tad tas tie tik to un uz vai var viņa viņš""".split()
)
STOPWORDS_NO = frozenset(
    """av alle at da de dem den denne der det dette du eller en er et
    etter for fra ham han hans har hadde hun hva hvis hvor i ikke jeg
    kan kunne man med meg men mer mitt min mot nå når og også om opp
    oss over på sa seg selv sin sitt skal skulle som så til ut var ved
    vi vil ville være vært""".split()
)
STOPWORDS_RO = frozenset(
    """a acea această al ale am ar au că ce cel cele cu dar de din după
    ea ei el este eu fi fie i îi în între la le lor lui mai mea mult nu
    o pe pentru prin sa să se și sunt un una unei unui va voi""".split()
)
STOPWORDS_SV = frozenset(
    """alla att av blev bli den denna det detta dig din du där då efter
    ej eller en er ett för från ha hade han hans har hon hur i icke
    inte jag kan kunde man med men mig min mot mycket ni nu när och om
    oss på sig sin sitt skall skulle som så till under upp ut utan var
    vad vara varför vi vid vilken än är åt över""".split()
)
STOPWORDS_TH = frozenset(
    """กว่า จะ จาก ใน ได้ ไป มี มา แล้ว และ ว่า ไว้ ให้ ของ คือ ค่ะ ครับ ที่
    นี้ นั้น เป็น อยู่ อย่าง ก็ การ กับ แต่ ต้อง ถ้า หรือ เขา เรา ฉัน คุณ""".split()
)
STOPWORDS_TR = frozenset(
    """acaba ama ancak bana bazı belki ben beni bir biri birkaç biz bu
    çok çünkü da daha de defa diye eğer en gibi hem hep hepsi her hiç
    için ile ise kez ki kim mı mu mü nasıl ne neden nerde nerede nereye
    niçin niye o on ona ondan onlar onu sanki şey siz şu tüm ve veya ya
    yani""".split()
)

# Script ranges for the CJK/Thai segmentation modes. UAX#29 (Lucene's
# StandardTokenizer, the reference's fallback for ja/zh/ko text) emits
# Han ideographs and Hiragana as SINGLE-character tokens and keeps
# Katakana / Hangul runs together as words; Thai needs dictionary
# segmentation (Lucene ThaiAnalyzer), for which character bigrams over
# Thai runs are the deterministic, dictionary-free substitute (the same
# trick Lucene's CJKAnalyzer applies to CJK).
_UNIGRAM_CHARS = (
    "㐀-䶿一-鿿豈-﫿"  # Han (ext A, unified, compat)
    "぀-ゟ"  # Hiragana
)
# Thai letters + vowel/tone marks, excluding ฿ (currency) and digits —
# both sides' word break already removes non-word chars, so the class
# only has to agree between Python fullmatch and JVM rlike
_THAI_CHARS = "ก-ฺเ-๎"
_UNIGRAM_RE = re.compile(f"([{_UNIGRAM_CHARS}])")
_THAI_RUN_RE = re.compile(f"[{_THAI_CHARS}]+")


class _Analyzer:
    __slots__ = ("token_re", "stopwords", "mode", "stem_lang")

    def __init__(self, token_re: re.Pattern, stopwords: frozenset,
                 mode: str = "word", stem_lang: str | None = None):
        self.token_re = token_re
        self.stopwords = stopwords
        # "word": regex word-break; "cjk": UAX#29-style unigram
        # Han/Hiragana + word-run everything else; "thai_bigram":
        # character bigrams over Thai runs + word-run everything else
        self.mode = mode
        # set -> stemming tier: analysis/stem.py light-stemmer rules for
        # this language run after the (optional) stop filter, matching
        # the Lucene analyzer order (StopFilter before the stemmer)
        self.stem_lang = stem_lang


def _segment_cjk(text: str) -> list[str]:
    """UAX#29-style token stream: lowercase, Han/Hiragana per-char,
    every other script's word runs as words."""
    spaced = _UNIGRAM_RE.sub(r" \1 ", text.lower())
    return _UNICODE_TOKEN_RE.findall(spaced)


def _segment_thai_bigram(text: str, stopwords: frozenset = frozenset()) -> list[str]:
    """Lowercase word stream where each all-Thai token is replaced by
    its character bigrams (single char for length-1 tokens). The rule is
    whole-token, exactly like the JVM twin in :func:`tokens_col` — a
    mixed-script token keeps word semantics (it matches no claimed
    alphabet; parity is pinned per alphabet by tests).

    Stopwords are matched against the WHOLE word-break token BEFORE
    bigram expansion — ``STOPWORDS_TH`` entries are whole Thai words
    (mostly > 2 chars), so a post-expansion filter could never match
    them, while its 2-char entries would delete interior bigrams of
    unrelated longer words. Word-level filtering (Lucene ThaiAnalyzer
    applies StopFilter to segmented words) has neither defect."""
    out: list[str] = []
    for t in _UNICODE_TOKEN_RE.findall(text.lower()):
        if t in stopwords:
            continue
        if _THAI_RUN_RE.fullmatch(t):
            if len(t) == 1:
                out.append(t)
            else:
                out.extend(t[i:i + 2] for i in range(len(t) - 1))
        else:
            out.append(t)
    return out


def _u(stopwords: frozenset) -> _Analyzer:
    return _Analyzer(_UNICODE_TOKEN_RE, stopwords)


# The full registry mirrors the reference's 31 analyzer bindings
# (TermAnalyzers.java:52-84) minus stemming (no stemmers here — the
# analyzer is a frozen pure function; a stemmer would be an additive
# schema change). ja/zh/ko are NOT in the reference's map — they fall
# through to its StandardAnalyzer default, whose UAX#29 tokenizer emits
# Han/Hiragana unigrams; our frozen-ASCII default would instead drop
# CJK text entirely, so the "cjk" analyzer reproduces the reference's
# EFFECTIVE behavior for those locales explicitly (with the fallback
# StandardAnalyzer's English stopword set, TermAnalyzers.java:49).
_ANALYZERS: dict[str, _Analyzer] = {
    "en": _Analyzer(_TOKEN_RE, STOPWORDS_EN),
    "en_ie": _u(STOPWORDS_EN),  # IrishAnalyzer(EN stopwords) in the reference
    "de": _u(STOPWORDS_DE),
    "fr": _u(STOPWORDS_FR),
    "es": _u(STOPWORDS_ES),
    "it": _u(STOPWORDS_IT),
    "pt": _u(STOPWORDS_PT),
    "pt_br": _u(STOPWORDS_PT),  # BrazilianAnalyzer: own key, shared stopwords
    "nl": _u(STOPWORDS_NL),
    "ru": _u(STOPWORDS_RU),
    "ar": _u(STOPWORDS_AR),
    "bg": _u(STOPWORDS_BG),
    "ca": _u(STOPWORDS_CA),
    "cs": _u(STOPWORDS_CS),
    "da": _u(STOPWORDS_DA),
    "eu": _u(STOPWORDS_EU),
    "fa": _u(STOPWORDS_FA),
    "fi": _u(STOPWORDS_FI),
    "gl": _u(STOPWORDS_GL),
    "gr": _u(STOPWORDS_GR),
    "hi": _u(STOPWORDS_HI),
    "hy": _u(STOPWORDS_HY),
    "id": _u(STOPWORDS_ID),
    "ku": _u(STOPWORDS_KU),
    "lv": _u(STOPWORDS_LV),
    "nb": _u(STOPWORDS_NO),
    "nn": _u(STOPWORDS_NO),  # reference binds nb and nn to one analyzer
    "ro": _u(STOPWORDS_RO),
    "sv": _u(STOPWORDS_SV),
    "tr": _u(STOPWORDS_TR),
    "th": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_TH, mode="thai_bigram"),
    "ja": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_EN, mode="cjk"),
    "zh": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_EN, mode="cjk"),
    "ko": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_EN, mode="cjk"),
    "cjk": _Analyzer(_UNICODE_TOKEN_RE, frozenset(), mode="cjk"),
    "unicode": _Analyzer(_UNICODE_TOKEN_RE, frozenset()),
    # --- stemming tier (ANALYZER_VERSION 3): the reference's analyzers
    # are Lucene STEMMING analyzers (TermAnalyzers.java:52-84 binds
    # EnglishAnalyzer/GermanAnalyzer/FrenchAnalyzer/SpanishAnalyzer);
    # these opt-in codes add that behavior as light suffix stemmers
    # (analysis/stem.py) without touching the frozen base codes ---
    "en_stem": _Analyzer(_TOKEN_RE, STOPWORDS_EN, stem_lang="en"),
    "de_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_DE, stem_lang="de"),
    "fr_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_FR, stem_lang="fr"),
    "es_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_ES, stem_lang="es"),
    # --- generation 4: the rest of the reference's stemming locales
    # (TermAnalyzers.java:52-84; analysis/stem.py rule tables). fa and
    # th are absent by design — Lucene's PersianAnalyzer/ThaiAnalyzer
    # do not stem (normalization / segmentation only). ---
    "it_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_IT, stem_lang="it"),
    "pt_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_PT, stem_lang="pt"),
    "pt_br_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_PT, stem_lang="pt"),
    "nl_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_NL, stem_lang="nl"),
    "ru_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_RU, stem_lang="ru"),
    "sv_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_SV, stem_lang="sv"),
    "da_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_DA, stem_lang="da"),
    "nb_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_NO, stem_lang="no"),
    "nn_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_NO, stem_lang="no"),
    "fi_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_FI, stem_lang="fi"),
    "cs_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_CS, stem_lang="cs"),
    "ro_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_RO, stem_lang="ro"),
    "ca_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_CA, stem_lang="ca"),
    "gl_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_GL, stem_lang="gl"),
    "id_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_ID, stem_lang="id"),
    "hi_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_HI, stem_lang="hi"),
    "bg_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_BG, stem_lang="bg"),
    "gr_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_GR, stem_lang="gr"),
    "tr_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_TR, stem_lang="tr"),
    "lv_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_LV, stem_lang="lv"),
    "eu_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_EU, stem_lang="eu"),
    "hy_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_HY, stem_lang="hy"),
    "ar_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_AR, stem_lang="ar"),
    "ku_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_KU, stem_lang="ku"),
    "en_ie_stem": _Analyzer(_UNICODE_TOKEN_RE, STOPWORDS_EN, stem_lang="ga"),
}
_DEFAULT_ANALYZER = _ANALYZERS["en"]


def find_analyzer(locale: str | None) -> _Analyzer:
    """Resolve a locale code to its analyzer, with the reference's
    fallback chain (``TermAnalyzers.findAnalyzer:124-138``): exact code,
    then strip at the FIRST ``_`` ("de_DE_bavaria" -> "de" in one step —
    the reference's ``code.substring(0, indexOf('_'))``), then default."""
    code = locale or ""
    while code:
        a = _ANALYZERS.get(code)
        if a is not None:
            return a
        if "_" not in code:
            break
        code = code.split("_", 1)[0]
    return _DEFAULT_ANALYZER


def extract_text(html: bytes | None) -> str:
    """Extract visible text from an HTML byte payload, deterministically.

    Byte-identical per input: strip tags with a single regex pass, decode
    utf-8 (replacement for invalid bytes), collapse whitespace. This is the
    invariant surface — given the same ``html`` bytes it always returns the
    same string, on any executor.
    """
    if html is None:
        return ""
    stripped = _TAG_RE.sub(b" ", html)
    text = stripped.decode("utf-8", errors="replace")
    return _WS_RE.sub(" ", text).strip()


def tokenize(
    text: str | None, *, use_stopwords: bool = False, locale: str | None = None
) -> list[str]:
    """Lowercase word-break tokenization; optionally drop the locale's
    stopwords.

    Mirrors the reference analyzer semantics (StandardAnalyzer-like
    lowercase word tokens; per-locale analyzer + stopword variants via
    ``TermAnalyzers.findAnalyzer``). ``locale=None`` is the frozen ASCII
    "en" analyzer (the engine default and byte-identity surface).
    """
    if not text:
        return []
    analyzer = find_analyzer(locale)
    if analyzer.mode == "cjk":
        toks = _segment_cjk(text)
    elif analyzer.mode == "thai_bigram":
        # stopword filtering happens at the word level INSIDE the
        # segmenter (see _segment_thai_bigram) — bigrams of a stopword
        # are not themselves stopwords, and vice versa
        return _segment_thai_bigram(
            text, analyzer.stopwords if use_stopwords else frozenset()
        )
    else:
        toks = analyzer.token_re.findall(text.lower())
    if use_stopwords:
        toks = [t for t in toks if t not in analyzer.stopwords]
    if analyzer.stem_lang is not None:
        from miru_spark.analysis.stem import stem

        lang = analyzer.stem_lang
        toks = [stem(t, lang) for t in toks]
    return toks


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


def tokenize_udf(use_stopwords: bool = False, locale: str | None = None):
    """Factory for an Arrow-vectorized tokenizer column function."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(text: pd.Series) -> pd.Series:
        return text.map(lambda s: tokenize(s, use_stopwords=use_stopwords, locale=locale))

    return _tok


def tokens_col(col, use_stopwords: bool = False, locale: str | None = None):
    """JVM-codegen twin of :func:`tokenize` (split/lower/regexp — no
    Python). Token-identical to the UDF on the supported alphabets; used
    where only counts/sets/adjacency are needed (doclen, text stats,
    phrase verification) so the hot path stays in whole-stage codegen.
    Tests assert parity against the Python tokenizer on the fixture
    corpora, including non-ASCII (Latin-accented / Cyrillic / Greek)
    samples for the unicode analyzers.

    ``locale`` resolves through the same :func:`find_analyzer` chain:
    the frozen ASCII analyzer keeps the ASCII regex; every other analyzer
    maps to the Unicode word twin — Java's ``(?U)\\W`` and Python's
    ``re.UNICODE \\W`` agree on letters/digits of every script (exotic
    numeral-category codepoints are the only divergence surface, and the
    parity test pins the alphabets we claim)."""
    analyzer = find_analyzer(locale)
    if analyzer.token_re is _TOKEN_RE and analyzer.mode == "word":
        lowered = F.lower(F.regexp_replace(col, r"[^A-Za-z0-9]+", " "))
    elif analyzer.mode == "cjk":
        # UAX#29 twin: space out each Han/Hiragana char BEFORE the word
        # break, so unigrams fall out of the same split; Katakana/Hangul
        # are word chars under (?U)\w and stay as runs
        spaced = F.regexp_replace(
            F.lower(col), f"([{_UNIGRAM_CHARS}])", r" $1 ")
        lowered = F.regexp_replace(spaced, r"(?U)[\W_]+", " ")
    else:
        # lower BEFORE word-breaking, as the Python twin does — case
        # folding may rewrite codepoints, so the order is part of parity
        lowered = F.regexp_replace(F.lower(col), r"(?U)[\W_]+", " ")
    toks = F.filter(F.split(lowered, r"\s+"), lambda x: x != "")
    if use_stopwords and analyzer.mode == "thai_bigram":
        # word-level stop filter BEFORE bigram expansion — the Python
        # twin (_segment_thai_bigram) filters whole word tokens; doing
        # it after expansion could only ever match 2-char stopwords,
        # and those would spuriously delete mid-word bigrams
        stop_w = F.array(*[F.lit(s) for s in sorted(analyzer.stopwords)])
        toks = F.filter(toks, lambda x: ~F.array_contains(stop_w, x))
    if analyzer.mode == "thai_bigram":
        # per word-token: replace each Thai RUN with its char bigrams.
        # Tokens are single-script in practice after the word break; the
        # JVM twin handles the all-Thai-run case (mixed-script tokens
        # keep word semantics, matching no claimed alphabet)
        thai_pat = f"^[{_THAI_CHARS}]+$"

        def _expand(t):
            bi = F.transform(
                F.sequence(F.lit(1), F.length(t) - 1),
                lambda i: t.substr(i, F.lit(2)),
            )
            return F.when(F.length(t) == 1, F.array(t)).otherwise(bi)

        toks = F.flatten(
            F.transform(
                toks,
                lambda t: F.when(t.rlike(thai_pat), _expand(t)).otherwise(F.array(t)),
            )
        )
    if use_stopwords and analyzer.mode != "thai_bigram":
        stop = F.array(*[F.lit(s) for s in sorted(analyzer.stopwords)])
        toks = F.filter(toks, lambda x: ~F.array_contains(stop, x))
    if analyzer.stem_lang is not None:
        # stemming tier: the same anchored rules as the Python stemmer,
        # chained regexp_replace per rule (Java replacement spelling $1);
        # runs AFTER the stop filter, like the Python twin
        from miru_spark.analysis.stem import jvm_rules

        rules = jvm_rules(analyzer.stem_lang)

        def _stem_col(t):
            for pat, repl in rules:
                t = F.regexp_replace(t, pat, repl)
            return t

        toks = F.transform(toks, _stem_col)
    return toks
