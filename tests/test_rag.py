"""RAG assembly (operators.rag): the pluggable LLM boundary (U5) runs a
caller's batch ``infer`` through ``assemble_answers``, and a query with
no matches still gets the canned no-results answer."""

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    rag,
)


def test_pandas_llm_generator_through_assemble_answers(spark):
    queries = spark.createDataFrame(
        [(0, "what is alpha?"), (1, "what is beta?"), (2, "anything else?")],
        "query_id long, question string",
    )
    matches = spark.createDataFrame(
        [
            (0, 10, 0.9, 1, "alpha text", "a.txt"),
            (0, 11, 0.8, 2, "more alpha", "b.txt"),
            (1, 12, 0.7, 1, "beta text", "c.txt"),
        ],
        "query_id long, vec_id long, score double, rank int, text string, source string",
    )
    contexts = rag.build_context(rag.project_matches(matches))

    def infer(ctxs: list[str], questions: list[str]) -> list[str]:
        return [f"{q} | {c.count('[Document')}" for c, q in zip(ctxs, questions)]

    out = {
        r["query_id"]: r["answer"]
        for r in rag.assemble_answers(
            queries, contexts, rag.pandas_llm_generator(infer)
        ).collect()
    }
    assert out == {
        0: "what is alpha? | 2",
        1: "what is beta? | 1",
        2: rag.EMPTY_ANSWER,
    }
