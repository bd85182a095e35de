"""Hashed character-trigram language identifier (fastText-style).

A linear classifier over hashed char n-grams — the same architecture
fastText's langid model uses (Joulin et al. 2016, "Bag of Tricks for
Efficient Text Classification"), shrunk to a deterministic in-code
model: per-language trigram profiles built from small embedded seed
corpora, additive-smoothed log-likelihood scoring, prediction =
argmax, confidence = softmax margin over mean per-trigram log-probs.

Everything is derived from the seed corpora below at import time — no
model files, no RNG, bit-identical across partitions and processes
(the determinism requirement of BASELINE.json's per-row invariant).

Spark binding: a scalar ``arrow_udf`` returning a struct
(lang_pred string, lang_conf double). The per-doc loop lives inside
the Arrow batch (vectorized transfer, numpy scoring) — no Spark-level
row-at-a-time Python.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np
import pyarrow as pa

N_BUCKETS = 1024

# Seed corpora: original sentences, a few hundred words per language.
# These double as the word pools of the synthetic web-page generator
# (sources/webgen.py), which keeps generated "clean prose" in-domain.
SEED_CORPORA = {
    "en": (
        "the quick brown fox jumps over the lazy dog while the sun sets "
        "behind the quiet hills and people walk home from work talking "
        "about the weather and the news of the day this is a simple "
        "english sentence with common words that appear in everyday "
        "writing such as house water family school children morning "
        "evening street market government history science music good "
        "great small large old young first last long short high world "
        "country city river mountain winter summer spring autumn bread "
        "butter coffee letter number question answer problem solution "
        "work life time year day week month hand head heart friend "
        "mother father brother sister table chair window door garden "
        "because although however therefore between through against "
        "without within before after during under over again never "
        "always often sometimes usually here there where when what who"
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund während "
        "die sonne hinter den stillen hügeln untergeht und die menschen "
        "nach hause gehen und über das wetter und die nachrichten des "
        "tages sprechen dies ist ein einfacher deutscher satz mit "
        "häufigen wörtern wie haus wasser familie schule kinder morgen "
        "abend straße markt regierung geschichte wissenschaft musik gut "
        "groß klein alt jung erste letzte lang kurz hoch welt land "
        "stadt fluss berg winter sommer frühling herbst brot butter "
        "kaffee brief zahl frage antwort problem lösung arbeit leben "
        "zeit jahr tag woche monat hand kopf herz freund mutter vater "
        "bruder schwester tisch stuhl fenster tür garten weil obwohl "
        "jedoch deshalb zwischen durch gegen ohne innerhalb vor nach "
        "während unter über wieder niemals immer oft manchmal hier dort"
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux "
        "pendant que le soleil se couche derrière les collines calmes "
        "et que les gens rentrent chez eux en parlant du temps et des "
        "nouvelles du jour ceci est une phrase française simple avec "
        "des mots courants comme maison eau famille école enfants "
        "matin soir rue marché gouvernement histoire science musique "
        "bon grand petit vieux jeune premier dernier long court haut "
        "monde pays ville rivière montagne hiver été printemps automne "
        "pain beurre café lettre nombre question réponse problème "
        "solution travail vie temps année jour semaine mois main tête "
        "coeur ami mère père frère soeur table chaise fenêtre porte "
        "jardin parce que bien que cependant donc entre travers contre "
        "sans avant après pendant sous encore jamais toujours souvent"
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso mientras "
        "el sol se pone detrás de las colinas tranquilas y la gente "
        "camina a casa desde el trabajo hablando del clima y las "
        "noticias del día esta es una frase española sencilla con "
        "palabras comunes como casa agua familia escuela niños mañana "
        "tarde calle mercado gobierno historia ciencia música bueno "
        "grande pequeño viejo joven primero último largo corto alto "
        "mundo país ciudad río montaña invierno verano primavera otoño "
        "pan mantequilla café carta número pregunta respuesta problema "
        "solución trabajo vida tiempo año día semana mes mano cabeza "
        "corazón amigo madre padre hermano hermana mesa silla ventana "
        "puerta jardín porque aunque sin embargo por lo tanto entre "
        "contra sin antes después durante bajo otra vez nunca siempre"
    ),
    "it": (
        "la veloce volpe marrone salta sopra il cane pigro mentre il "
        "sole tramonta dietro le colline tranquille e la gente torna a "
        "casa dal lavoro parlando del tempo e delle notizie del giorno "
        "questa è una semplice frase italiana con parole comuni come "
        "casa acqua famiglia scuola bambini mattina sera strada mercato "
        "governo storia scienza musica buono grande piccolo vecchio "
        "giovane primo ultimo lungo corto alto mondo paese città fiume "
        "montagna inverno estate primavera autunno pane burro caffè "
        "lettera numero domanda risposta problema soluzione lavoro vita "
        "tempo anno giorno settimana mese mano testa cuore amico madre "
        "padre fratello sorella tavolo sedia finestra porta giardino "
        "perché sebbene tuttavia quindi tra attraverso contro senza "
        "prima dopo durante sotto ancora mai sempre spesso qui dove"
    ),
    "cs": (
        "rychlá hnědá liška skáče přes líného psa zatímco slunce zapadá "
        "za tichými kopci a lidé jdou domů z práce a mluví o počasí a "
        "zprávách dne toto je jednoduchá česká věta s běžnými slovy "
        "jako dům voda rodina škola děti ráno večer ulice trh vláda "
        "historie věda hudba dobrý velký malý starý mladý první "
        "poslední dlouhý krátký vysoký svět země město řeka hora zima "
        "léto jaro podzim chléb máslo káva dopis číslo otázka odpověď "
        "problém řešení práce život čas rok den týden měsíc ruka hlava "
        "srdce přítel matka otec bratr sestra stůl židle okno dveře "
        "zahrada protože ačkoli však proto mezi skrz proti bez před po "
        "během pod znovu nikdy vždy často někdy tady tam kde kdy co kdo"
    ),
}

LANGS: List[str] = sorted(SEED_CORPORA)


# Language identity is stable within a document: score a bounded
# prefix (fastText's CLI and CLD2/3 sample similarly). Bounds both
# compute and memory traffic per doc regardless of document length.
# Profiles are built from full seed corpora (PREFIX applies per-doc).
PREFIX_BYTES = 512


def _trigram_hashes(text: str, prefix: int = 0) -> np.ndarray:
    """Vectorized rolling-hash of byte trigrams into N_BUCKETS.
    int32 math: max term 255*131071 < 2^31, halves temporary traffic."""
    if prefix:
        text = text[:prefix]
    b = text.lower().encode("utf-8", "ignore")
    a = np.frombuffer(b, dtype=np.uint8).astype(np.int32)
    if a.size < 3:
        return np.empty(0, dtype=np.int32)
    h = (a[:-2] * 131071 + a[1:-1] * 8191 + a[2:]) % N_BUCKETS
    return h


def _build_profiles() -> np.ndarray:
    """(n_langs, N_BUCKETS) matrix of smoothed log-probabilities."""
    mat = np.zeros((len(LANGS), N_BUCKETS), dtype=np.float64)
    for i, lang in enumerate(LANGS):
        h = _trigram_hashes(SEED_CORPORA[lang])
        counts = np.bincount(h, minlength=N_BUCKETS).astype(np.float64)
        mat[i] = np.log((counts + 0.5) / (counts.sum() + 0.5 * N_BUCKETS))
    # float32: halves the per-doc memory traffic of the scoring matvec
    # (the matrix streams through cache once per document) with no
    # effect on argmax separability; confidences shift in the 7th
    # decimal, and every consumer shares this same core.
    return mat.astype(np.float32)


_PROFILES = _build_profiles()


def detect(text: str) -> Tuple[str, float]:
    """Pure core: (predicted_lang, confidence in [0,1]).

    Deterministic: no RNG, fixed accumulation order per document.
    Unknown/too-short text → ("und", 0.0).
    """
    h = _trigram_hashes(text, prefix=PREFIX_BYTES)
    if h.size == 0:
        return "und", 0.0
    # mean per-trigram log-likelihood per language: dense bincount +
    # (langs × buckets) matvec — identical math to gathering all
    # trigrams, and cheaper than np.unique's sort for typical docs
    counts = np.bincount(h, minlength=N_BUCKETS).astype(np.float32)
    scores = (_PROFILES @ counts) / np.float32(h.size)
    order = np.argsort(scores)[::-1]
    best, second = scores[order[0]], scores[order[1]]
    # softmax margin on the per-trigram scale → crisp for real text
    conf = float(1.0 / (1.0 + np.exp(-(best - second) * 8.0)))
    return LANGS[int(order[0])], conf


def detect_batch(texts) -> Tuple[List[str], List[float]]:
    langs, confs = [], []
    for t in texts:
        l, c = detect(t or "")
        langs.append(l)
        confs.append(c)
    return langs, confs


def spark_udf():
    """Scalar ``arrow_udf``: text → struct(lang_pred, lang_conf); a NULL
    text scores as the empty text."""
    from pyspark.sql import functions as F

    def _langid(texts: pa.Array) -> pa.Array:
        langs, confs = detect_batch(texts.to_pylist())
        return pa.StructArray.from_arrays(
            [pa.array(langs, pa.string()), pa.array(confs, pa.float64())],
            names=["lang_pred", "lang_conf"],
        )

    return F.arrow_udf(_langid, "lang_pred string, lang_conf double")
