package graft.functions

import graft.contracts.Compiler
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Coalesce, CreateMap, Literal, RaiseError}

/** Test-side guard for the generated verdict: a copy of a
  * `rowFirstViolation` column whose generic tree is
  * `coalesce(generic, raise_error(...))`. Generated code calls
  * `slowPath` only on rows the verdict fails, so a row the verdict fails
  * but the generic compile passes raises instead of yielding null, which
  * an output comparison cannot tell from a pass. Use it with codegen
  * forced only: interpreted `eval` is `slowPath` on every row. */
object RaisingGeneric {
  def apply(c: Column): Column = GraftColumnBridge.expression(c) match {
    case cc: ContractCheck =>
      val raise = RaiseError(Literal("USER_RAISED_EXCEPTION"),
        CreateMap(Seq(Literal("errorMessage"),
          Literal("generated verdict failed a row the generic compile passes"))),
        Compiler.violType)
      GraftColumnBridge.column(cc.copy(generic =
        new ContractCheck.Generic(Coalesce(Seq(cc.generic.expr, raise)))))
    case other => throw new IllegalArgumentException(s"not a ContractCheck: $other")
  }
}
