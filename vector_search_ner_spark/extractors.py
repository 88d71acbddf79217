"""NER-enrichment extractor interface (SURVEY §2.10): the reference
calls an LLM per posting at index time (doc-NER,
/root/reference/build_vectorstore.py:56-101) and per query at serve
time (query-NER, main.py:95-125), storing results as a JSON string in
metadata (build_vectorstore.py:217) re-parsed later (main.py:303-308).

Engine design: extraction is a DataFrame->DataFrame operator behind an
interface; the RULE-BASED implementation is pure column exprs
(deterministic, oracle-checkable); the LLM implementation is an
optional mapInPandas drop-in (network calls quarantined off the
oracle path). The LLM adapter strips markdown fences from the raw
model output and parses it against NER_SCHEMA, padding missing fields.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The reference's 9-field NER struct, with its space-bearing Korean
# field names and the 지역/근무지역/근무 지역 drift
# (build_vectorstore.py:72-81, main.py:266).
NER_SCHEMA = T.StructType(
    [
        T.StructField("직무", T.StringType()),
        T.StructField("회사명", T.StringType()),
        T.StructField("근무 지역", T.StringType()),
        T.StructField("연령대", T.StringType()),
        T.StructField("경력 요구 사항", T.StringType()),
        T.StructField("학력 요건", T.StringType()),
        T.StructField("급여 정보", T.StringType()),
        T.StructField("고용 형태", T.StringType()),
        T.StructField("복리후생", T.ArrayType(T.StringType())),
    ]
)


class RuleBasedExtractor:
    """Deterministic keyword extractor: same shape as the LLM one,
    zero network. Used on every oracle-checked path."""

    def extract(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        text = F.col(text_col)
        job = (
            F.when(text.contains("join"), "join")
            .when(text.contains("sort"), "sort")
            .when(text.contains("merge"), "merge")
            .when(text.contains("scan"), "scan")
            .otherwise(F.lit(None).cast("string"))
        )
        return df.withColumn("ner_job", job).withColumn(
            "ner_json",
            F.to_json(F.struct(job.alias("job"))),
        )


def strip_markdown_fences_py(s: str) -> str:
    """Strip ```json fences and surrounding whitespace: the
    adapter-side hygiene applied to raw model output before JSON
    parsing (reference main.py:214,288,434)."""
    import re

    return re.sub(r"```json|```", "", s or "").strip()


# per-field pad values for a failed/partial NER parse — the reference
# pads missing keys with 정보없음 and treats 복리후생 as a list
# (build_vectorstore.py:72-101 defaults discipline)
NER_DEFAULTS: dict[str, object] = {
    f.name: ([] if f.name == "복리후생" else "정보없음") for f in NER_SCHEMA.fields
}


class LLMExtractor:
    """LLM-backed extractor (reference: ChatOpenAI gpt-4o-mini,
    temp 0.0, build_vectorstore.py:56-101). mapInPandas so one model
    client per partition batch; NEVER used on oracle-checked paths.

    `client` is injectable: any callable prompt->str (raw model
    output). Without one, the OpenAI client is required at runtime —
    absent in this image, so construction raises NotImplementedError.
    The RESPONSE-SHAPE handling is real adapter code either way and is
    unit-tested with a faked client (tests/test_semantics.py):
    markdown-fence strip, then JSON parse, then per-field default
    padding on parse failure or missing keys — the reference's
    hygiene, not the happy path only."""

    def __init__(self, model: str = "gpt-4o-mini", client=None):
        if client is None:  # pragma: no cover - network lib not in image
            try:
                import openai  # noqa: F401
            except ImportError as e:
                raise NotImplementedError(
                    "openai client not installed; use RuleBasedExtractor "
                    "or inject a client callable"
                ) from e
        self.model = model
        self.client = client

    def parse_response(self, raw: str) -> dict:
        """Fence-strip + parse + pad: ALWAYS returns a dict with every
        NER_SCHEMA field (reference pads missing/failed parses with
        정보없음 / empty list rather than propagating the error)."""
        import json

        try:
            parsed = json.loads(strip_markdown_fences_py(raw))
            if not isinstance(parsed, dict):
                parsed = {}
        except (ValueError, TypeError):
            parsed = {}
        out = {}
        for name, default in NER_DEFAULTS.items():
            v = parsed.get(name, default)
            if name == "복리후생":
                out[name] = [str(x) for x in v] if isinstance(v, list) else default
            else:
                out[name] = str(v) if v is not None else default
        return out

    def extract_batch(self, texts: list[str]) -> list[str]:
        """One JSON string per text, via the injected client + the
        parse/pad hygiene — the unit the Spark wrapper fans out."""
        import json

        return [
            json.dumps(self.parse_response(self.client(t)), ensure_ascii=False, sort_keys=True)
            for t in texts
        ]

    def extract(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """Same output contract as RuleBasedExtractor.extract: appends
        `ner_json`. mapInPandas: the client is invoked executor-side
        per Arrow batch — no shuffle, no driver round-trips."""
        schema = T.StructType(
            df.schema.fields + [T.StructField("ner_json", T.StringType())]
        )
        extractor = self

        def op(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["ner_json"] = extractor.extract_batch(list(pdf[text_col]))
                yield pdf

        return df.mapInPandas(op, schema=schema)


class LLMReranker:
    """The reference's LLM rerank scorer adapter (main.py:252-324):
    given a query and an ORDERED doc list, ask the model for a JSON
    array of scores. Response hygiene is the contract under test:
    fence-strip (main.py:288), parse failure → all-zeros
    (main.py:291-296), length mismatch → truncate / pad-0.0 so the
    score list ALWAYS aligns 1:1 with the doc list (main.py:319-321).
    `client` is an injectable callable prompt->str; the deterministic
    fusion twin (operators/fusion.py) stays the oracle-checked path."""

    def __init__(self, client=None):
        if client is None:  # pragma: no cover - network lib not in image
            try:
                import openai  # noqa: F401
            except ImportError as e:
                raise NotImplementedError(
                    "openai client not installed; inject a client callable"
                ) from e
        self.client = client

    def scores(self, query: str, docs: list[str]) -> list[float]:
        import json

        raw = self.client(f"score {len(docs)} docs for: {query}")
        try:
            parsed = json.loads(strip_markdown_fences_py(raw))
            # the reference returns {"scores": [...]} (main.py:291-296);
            # accept that dict shape AND a bare JSON array
            if isinstance(parsed, dict):
                parsed = parsed.get("scores")
            vals = [float(x) for x in parsed] if isinstance(parsed, list) else None
        except (ValueError, TypeError):
            vals = None
        if vals is None:  # parse failure → zeros (main.py:291-296)
            return [0.0] * len(docs)
        # length mismatch → truncate / pad with 0.0 (main.py:319-321)
        return (vals + [0.0] * len(docs))[: len(docs)]

    def attach_scores(
        self,
        df: DataFrame,
        query_col: str = "query_text",
        doc_col: str = "doc_text",
        id_col: str = "doc_id",
        out_col: str = "model_score",
    ) -> DataFrame:
        """applyInPandas per query group: ONE client call per query
        over its ordered candidate list (the reference scores the
        whole list in one prompt), scores joined back positionally."""
        import pandas as pd

        reranker = self
        schema = f"{query_col} string, {id_col} long, {out_col} double"

        def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col, ignore_index=True)
            s = reranker.scores(pdf[query_col].iloc[0], list(pdf[doc_col]))
            return pd.DataFrame(
                {query_col: pdf[query_col], id_col: pdf[id_col], out_col: s}
            )

        return df.groupBy(query_col).applyInPandas(score_group, schema=schema)
